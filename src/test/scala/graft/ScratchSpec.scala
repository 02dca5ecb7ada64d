package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSuite

/** The scratch-state contract of [[Scratch]]: entry dirs carry no pid,
  * shared tables carry `_<pid>_` (the benchmark's per-query reset keeps
  * exactly those), and a shared table is built once per (JVM, data dir)
  * — across calls, across threads, and when one build reads another. */
class ScratchSpec extends SparkSuite {

  private val pidTag = s"_${ProcessHandle.current().pid()}_"
  private def name(path: String) = Paths.get(path).getFileName.toString

  test("entry dirs carry no pid; shared tables carry _<pid>_") {
    val entry = name(Scratch.entryDir("mv", "/data/sf0.01"))
    assert(entry === "graft_mv__data_sf0.01")
    val shared = name(Scratch.sharedPath("labels", "/data/sf0.01"))
    assert(shared === s"graft_labels${pidTag}_data_sf0.01")
    assert(!entry.contains(pidTag) && shared.contains(pidTag))
  }

  test("a shared build runs once across calls and under concurrent first callers") {
    val dir = s"/scratch-spec/once-${System.nanoTime()}"
    val builds = new AtomicInteger()
    def get(): String = Scratch.shared("spec", dir) { _ =>
      builds.incrementAndGet()
      Thread.sleep(200) // hold the build open while the other caller arrives
    }
    val threads = (1 to 2).map { _ =>
      val t = new Thread(() => { get(); () }); t.start(); t }
    threads.foreach(_.join())
    assert(get() === Scratch.sharedPath("spec", dir))
    assert(builds.get() === 1)
  }

  test("a failed shared build records nothing; the next call builds") {
    val dir = s"/scratch-spec/retry-${System.nanoTime()}"
    intercept[IllegalStateException](
      Scratch.shared("spec", dir)(_ => throw new IllegalStateException("x")))
    val builds = new AtomicInteger()
    Scratch.shared("spec", dir)(_ => { builds.incrementAndGet(); () })
    assert(builds.get() === 1)
  }

  test("a nested shared build works: cleanedDocs builds windowFps inside its own build") {
    val inner = new AtomicInteger()
    val dir = s"/scratch-spec/nested-${System.nanoTime()}"
    Scratch.shared("outer", dir) { _ =>
      Scratch.shared("inner", dir)(_ => { inner.incrementAndGet(); () })
      ()
    }
    Scratch.shared("inner", dir)(_ => { inner.incrementAndGet(); () })
    assert(inner.get() === 1)

    // the real pair, over a private corpus so both tables are built
    // here for the first time: docs 1 and 2 share three 8-token windows
    val data = tmpDir("scratch-spec")
    import spark.implicits._
    Seq((1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j k"),
        (3L, "x y z")).toDF("doc_id", "text")
      .write.parquet(s"$data/documents.parquet")
    assert(DedupOps.cleanedDocs(spark, data).count() === 3)
    assert(Files.exists(Paths.get(Scratch.sharedPath("substr_wins", data))))
    assert(Files.exists(Paths.get(Scratch.sharedPath("substr_clean", data))))
  }
}
