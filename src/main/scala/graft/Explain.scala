package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Formatted physical plans for registered queries, in one session:
  * `runMain graft.Explain <q1,q2,...|all> [sfDir] [outDir]`.
  * Without `outDir` each plan goes to stdout; with it, to
  * `<outDir>/<query>.txt`. A query whose plan fails to build gets an
  * `EXPLAIN FAILED: ...` text and the run goes on. */
object Explain {
  def main(args: Array[String]): Unit = {
    val names: Seq[String] =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = args.lift(2)
    val spark = GraftSession.build(defaultCpus = "4")
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { name =>
      val plan =
        try SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        catch { case t: Throwable => s"EXPLAIN FAILED: $t" }
      outDir match {
        case Some(d) =>
          Files.writeString(Paths.get(d, s"$name.txt"), plan)
          println(s"wrote $d/$name.txt")
        case None => println(plan)
      }
    }
    spark.stop()
  }
}
