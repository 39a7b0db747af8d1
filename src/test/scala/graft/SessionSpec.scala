package graft

import java.io.File

/** graft builds its Spark sessions one way: [[Session.local]]. The specs'
  * shared session carries graft's confs, and no second builder exists in
  * the program or its tests.
  */
class SessionSpec extends SparkSpec {

  test("the shared spec session runs graft's confs at a fixed width of 4") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.getConf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    val cos = spark.sql(
      "SELECT cosine_sim(array(3.0D, 4.0D), array(4.0D, 3.0D))").head().getDouble(0)
    assert(math.abs(cos - 0.96) < 1e-12)
  }

  test("the spec warehouse is a fresh directory: no generation log from an earlier run") {
    val dir = new File(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    assert(dir.getCanonicalPath == SparkSpec.warehouse.getCanonicalPath, dir)
    assert(dir.getCanonicalPath != new File("spark-warehouse").getCanonicalPath)
    assert(!SparkSpec.warehouseAtStart.contains("_graft_log"),
      SparkSpec.warehouseAtStart.mkString(", "))
  }

  test("no Spark session builder exists outside Session.scala") {
    def scalaFiles(dir: File): Seq[File] =
      Option(dir.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil
      }
    val roots = Seq(new File("src/main/scala"), new File("src/test/scala"))
    roots.foreach(r => assert(r.isDirectory, s"${r.getAbsolutePath} not found"))
    val files = roots.flatMap(scalaFiles)
    assert(files.exists(_.getName == "Session.scala"))
    val needle = "SparkSession" + ".builder"
    val builders = files.filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString.contains(needle) finally src.close()
    }.map(_.getName)
    assert(builders == Seq("Session.scala"),
      s"Spark session builders outside graft.Session: ${builders.mkString(", ")}")
  }
}
