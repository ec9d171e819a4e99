package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (cuts JVM+session startup to
  * once per `sbt test`), built as production builds it.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)

  val sf: String = "/root/testdata/sf0.001"

  /** Scratch dir inside the repo (nothing outside /root/repo is touched). */
  def scratch(name: String): String = {
    val p = s"target/test-scratch/$name"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    val f = new java.io.File(p)
    if (f.exists()) rm(f)
    f.mkdirs()
    p
  }
}
