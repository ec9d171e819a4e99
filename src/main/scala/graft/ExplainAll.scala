package graft

import java.nio.file.{Files, Paths}

/** Diagnostic main: dump `explain("formatted")` for every registered query
  * (the plan-iteration loop the scale contract demands — run after any
  * operator change, read for missing pushdowns/broadcasts/partial aggs).
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("target/plans.txt")
    // optional third arg: directory for pre-ckpt subplan dumps (the
    // subplans the final plan hides behind Scan ExistingRDD) — see
    // Ckpt.ExplainDirKey
    val ckptDir = args.lift(2)
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    ckptDir.foreach(d => spark.conf.set(Ckpt.ExplainDirKey, d))
    val sb = new StringBuilder
    operators.Registry.all.sortBy(_.name).foreach { q =>
      sb.append(s"==== ${q.name} — ${q.doc}\n")
      spark.conf.set(Ckpt.ExplainTagKey, q.name)
      try {
        val baos = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(baos)) {
          q.run(spark, sfDir).explain("formatted")
        }
        sb.append(baos.toString).append("\n")
      } catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
    }
    Files.createDirectories(Paths.get(out).getParent)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
