package graft

import graft.sources.TablePointer
import org.apache.hadoop.fs.Path

/** The standing-index generation log, on the filesystem only: commits
  * here name generations without writing their tables.
  */
class TablePointerSpec extends SparkSpec {

  test("a second swap onto an already-committed generation is refused, naming the generation") {
    val t = "pointer_twice"
    TablePointer.dropAll(spark, t, Seq.empty)
    val g1 = TablePointer.stage(spark, t)
    TablePointer.swap(spark, t, g1)
    // a second refresh that staged the same generation must not land
    val ex = intercept[IllegalStateException](TablePointer.swap(spark, t, g1))
    assert(ex.getMessage.contains("generation 1"), ex.getMessage)
    assert(TablePointer.resolve(spark, t) == g1)
    TablePointer.dropAll(spark, t, Seq.empty)
  }

  test("a generation staged but never committed is invisible; the next commit takes its number; retire prunes old entries") {
    val t = "pointer_crash"
    TablePointer.dropAll(spark, t, Seq.empty)
    val g1 = TablePointer.stage(spark, t)
    TablePointer.swap(spark, t, g1)
    // a refresh writes generation 2 and dies before its commit
    val g2 = TablePointer.stage(spark, t)
    val loc = new Path(spark.conf.get("spark.sql.warehouse.dir"), g2)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(loc)
    fs.create(new Path(loc, "part-00000.parquet")).close()
    assert(TablePointer.resolve(spark, t) == g1)
    assert(TablePointer.stage(spark, t) == g2)
    TablePointer.swap(spark, t, g2)
    assert(TablePointer.resolve(spark, t) == g2)
    // generation 3 lands: retire drops generation 1 and its entry, keeps
    // the previous generation as the readers' grace
    TablePointer.swap(spark, t, TablePointer.stage(spark, t))
    assert(TablePointer.retire(spark, t, Seq.empty) == Seq(s"${t}__g1"))
    val log = new Path(spark.conf.get("spark.sql.warehouse.dir"), s"_graft_log/$t")
    assert(CommitLog.entries(fs, log) == Seq(2, 3))
    assert(TablePointer.generationOf(TablePointer.resolve(spark, t)) == 3)
    TablePointer.dropAll(spark, t, Seq.empty)
    assert(TablePointer.resolve(spark, t) == t && !fs.exists(log))
  }
}
