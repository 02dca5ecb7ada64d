package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.core.Sessions
import graft.queries.Inventory

/** Writes the formatted physical plan of every inventory query, or of
  * the named ones, to a markdown file (dev tool). Run-dependent text is
  * masked ([[mask]]), so two runs of one commit write the same file and
  * a diff between commits shows only plan changes:
  *
  *   sbt "runMain graft.tools.ExplainDump PLANS.md"
  *   sbt "runMain graft.tools.ExplainDump plans/q.md q1 q2 ..."
  */
object ExplainDump {

  /** Run-dependent text → a fixed stand-in: attribute and plan ids, the
    * pid in shared scratch paths (`graft_<kind>_<pid>_<tag>`, see
    * [[graft.queries.Scratch]]), versioned summary paths, identity
    * hashes, lambda class names and RDD ids. */
  private val masks = Seq(
    "#\\d+" -> "#N",
    "plan_id=\\d+" -> "plan_id=N",
    "(graft_[a-z_]+?_)\\d+_" -> "$1<pid>_",
    "summary-v[0-9a-f]+" -> "summary-v<hex>",
    "Lambda\\$\\d+/0x[0-9a-f]+" -> "Lambda\\$N/0x<hex>",
    "@[0-9a-f]{1,8}\\b" -> "@<hex>",
    "RDD\\[\\d+\\]" -> "RDD[N]"
  ).map { case (re, to) => re.r -> to }

  private[graft] def mask(plan: String): String =
    masks.foldLeft(plan) { case (s, (re, to)) => re.replaceAllIn(s, to) }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    val entries =
      if (args.length > 1) args.toSeq.drop(1).map(Inventory.byName)
      else Inventory.all.sortBy(_.name)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Sessions.local("graft-explain")
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.tools.ExplainDump, sf=")
      .append(sfDir).append(")\n\n")
    sb.append("Formatted Catalyst plans for every inventory query — the\n")
      .append("artifact behind PlanSpec's assertions (pushdown, pruning,\n")
      .append("broadcast choice, shuffle counts).\n")
    entries.foreach { e =>
      val plan =
        try mask(e.run(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted")))
        catch { case t: Throwable => s"<failed: ${t.getMessage}>" }
      sb.append(s"\n## ${e.name}\n\n```\n$plan```\n")
    }
    Option(Paths.get(out).getParent).foreach(Files.createDirectories(_))
    Files.write(Paths.get(out), sb.toString.getBytes("UTF-8"))
    println(s"[explain] wrote ${entries.size} plans to $out")
    spark.stop()
  }
}
