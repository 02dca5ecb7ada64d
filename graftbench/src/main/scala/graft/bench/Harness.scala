package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, xxhash64}
import org.apache.spark.sql.types.DecimalType

import graft.core.{Sessions, Tables}
import graft.queries.{Entry, Inventory}

/** One benchmark process over a list of inventory queries.
  *
  * Set-up: the session, every table schema, one untimed pass (the first
  * line of the passes file) that fingerprints each result for the caller
  * to check, and one untimed warm-up pass (the second line): a fresh
  * JVM's second pass still runs ~40 % slower than later ones. The timed
  * passes follow, one per remaining line: a closed loop on one thread,
  * each query being `Entry.run` then a `noop` write, with `clearCache`
  * before it. With `--trace 1` the timed passes alternate
  * untraced and traced; traced passes attach [[Tracer]] and report
  * per-layer totals per pass.
  *
  * Usage: Harness --sf DIR --passes FILE --trace 0|1 --cpus N
  *          --out FILE [--spans FILE]
  */
object Harness {

  final case class Sample(query: String, pass: Int, secs: Double,
                          error: Option[String])

  final case class Checked(query: String, rows: Long, hash: String,
                           secs: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      opt.getOrElse(k, { System.err.println(s"graftbench: missing --$k"); sys.exit(2) })
    val sf = need("sf")
    val trace = need("trace") == "1"
    val passes = Files.readAllLines(Paths.get(need("passes"))).asScala.toSeq
      .filter(_.nonEmpty).map(_.split(',').toSeq)
    require(passes.size >= (if (trace) 4 else 3),
      "the passes file needs a check, a warm-up and the timed passes")
    new Harness(sf, need("cpus"), trace, need("out"), opt.get("spans")).run(passes)
  }

  /** Fails the process, naming the set-up step, instead of letting a
    * broken warm-up hide inside the first timed query. */
  def step[T](name: String)(body: => T): T =
    try body
    catch { case NonFatal(e) =>
      System.err.println(s"graftbench: set-up step '$name' failed: $e")
      e.printStackTrace()
      sys.exit(3)
    }

  /** Row count and an order-insensitive fingerprint: the sum of a
    * 64-bit hash of each row's string form. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    val r = df.select(xxhash64(struct(cols.toSeq: _*).cast("string")).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def error(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"

  def entry(q: String): Entry = Inventory.byName.getOrElse(q,
    throw new NoSuchElementException(s"no inventory entry '$q'"))

  def sampleJson(s: Sample): String = Json.obj(Seq(
    "query" -> Json.str(s.query), "pass" -> s.pass.toString,
    "secs" -> Json.num(s.secs), "error" -> s.error.map(Json.str).getOrElse("null")))

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally src.close()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

final class Harness(sf: String, cpus: String, trace: Boolean, out: String,
                    spansOut: Option[String]) {
  import Harness._

  private val tmp = new File(sys.props("java.io.tmpdir"))
  private val pidTag = s"_${ProcessHandle.current().pid()}_"

  /** Every query starts from the same state: the state directories
    * entries keep in the process tmpdir (`graft_*`, keyed by the data
    * directory only) are removed before each query, so no pass replays
    * batches onto an earlier pass's state. Tables keyed by the process
    * id are built once per JVM and memoized in it, so they stay. */
  private def resetState(): Unit =
    Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_") && !f.getName.contains(pidTag))
      .foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f))

  private val layers = new Layers(cpus.toInt)

  def run(passes: Seq[Seq[String]]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = step("session") { Sessions.local("graftbench", cpus) }
    val sessionS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    step("tables") { Tables.all.foreach(t => Tables(spark, sf, t).schema) }
    val tablesS = (System.nanoTime() - t1) / 1e9
    val checked = passes.head.map(q => check(spark, q))
    val warm = passes(1).map(q => runQuery(spark, q, 0, traced = false))
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val samples = mutable.ArrayBuffer.empty[Sample]
    val passWalls = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    passes.drop(2).zipWithIndex.foreach { case (pass, i) =>
      val traced = trace && i % 2 == 1
      if (traced) layers.attach(spark)
      val ps = System.nanoTime()
      pass.foreach(q => samples += runQuery(spark, q, i + 1, traced))
      passWalls += ((i + 1, traced, (System.nanoTime() - ps) / 1e9))
      if (traced) layers.detach(spark)
    }
    val tracedWalls = passWalls.filter(_._2).map(_._3).toSeq
    if (trace) {
      layers.total("core.session_s") = sessionS
      layers.total("core.tables_s") = tablesS
      layers.total("sink.tmp_mb") = layers.tmpPeakBytes / 1e6
      layers.total("trace.overhead_s") =
        median(tracedWalls) - median(passWalls.filterNot(_._2).map(_._3).toSeq)
    }

    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
    val json = Json.obj(Seq(
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "tables_s" -> Json.num(tablesS),
        "setup_s" -> Json.num(setupS))),
      "checked" -> Json.arr(checked.map(c => Json.obj(Seq(
        "query" -> Json.str(c.query), "rows" -> c.rows.toString,
        "hash" -> Json.str(c.hash), "secs" -> Json.num(c.secs),
        "error" -> c.error.map(Json.str).getOrElse("null"))))),
      "warm" -> Json.arr(warm.map(sampleJson)),
      "samples" -> Json.arr(samples.map(sampleJson)),
      "passes" -> Json.arr(passWalls.map { case (i, tr, w) => Json.obj(Seq(
        "pass" -> i.toString, "traced" -> tr.toString, "wall_s" -> Json.num(w))) }),
      "layers" -> Json.obj(layers.perPass(tracedWalls.size).map {
        case (k, v) => k -> Json.num(v) }),
      "peak_rss_mb" -> Json.num(vmHwmMb()),
      "spark_version" -> Json.str(spark.version),
      "spark_conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }),
      "jvm_args" -> Json.arr(ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.map(Json.str)),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0)))
    Files.writeString(Paths.get(out), json + "\n")
    spansOut.foreach(f => Files.writeString(Paths.get(f), layers.spansJson + "\n"))
    spark.stop()
  }

  private def check(spark: SparkSession, q: String): Checked = {
    resetState()
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    try {
      val (rows, hash) = fingerprint(entry(q).run(spark, sf))
      Checked(q, rows, hash, (System.nanoTime() - t0) / 1e9, None)
    } catch { case NonFatal(e) =>
      System.err.println(s"graftbench: check of '$q' failed: ${error(e)}")
      Checked(q, -1L, "", (System.nanoTime() - t0) / 1e9, Some(error(e)))
    }
  }

  private def runQuery(spark: SparkSession, q: String, pass: Int,
                       traced: Boolean): Sample = {
    val sc = spark.sparkContext
    val qStart = System.currentTimeMillis()
    resetState()
    spark.catalog.clearCache()
    if (traced) layers.begin(spark)
    val t0 = System.nanoTime()
    val bStart = System.currentTimeMillis()
    sc.setLocalProperty(Tracer.PhaseKey, "build")
    try {
      val df = entry(q).run(spark, sf)
      val bEnd = System.currentTimeMillis()
      val tb = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseKey, "execute")
      df.write.format("noop").mode("overwrite").save()
      val t1 = System.nanoTime()
      val qEnd = System.currentTimeMillis()
      sc.setLocalProperty(Tracer.PhaseKey, null)
      if (traced) layers.sample(spark, df, tmp, q, pass, (tb - t0) / 1e9,
        Interval(qStart, qEnd), Interval(bStart, bEnd), Interval(bEnd, qEnd))
      Sample(q, pass, (t1 - t0) / 1e9, None)
    } catch { case NonFatal(e) =>
      System.err.println(s"graftbench: '$q' failed in pass $pass: ${error(e)}")
      Sample(q, pass, Double.NaN, Some(error(e)))
    } finally sc.setLocalProperty(Tracer.PhaseKey, null)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
