package graft

import graft.sources.Ingest
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets

/** Round-trips for the bronze ingest utilities: mixed-layout CSV grouping,
  * JSON flattening, timestamp normalization, forward-fill, partitioned
  * writes.
  */
class IngestSpec extends SparkSpec {

  private def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private def write(dir: Path, name: String, content: String): Unit =
    Files.write(dir.resolve(name), content.getBytes(StandardCharsets.UTF_8))

  test("readCsvGrouped aligns mixed column orders by header signature") {
    val d = tmpDir("csv-mixed")
    // bulk-uploaded layout (alphabetical) vs lambda layout (id first)
    write(d, "bulk1.csv", "day;id;score\n2024-01-01;1;80\n2024-01-02;2;75\n")
    write(d, "lambda1.csv", "id;day;score\n3;2024-01-03;90\n")
    write(d, "lambda2.csv", "id;day;score;extra\n4;2024-01-04;60;x\n")
    val df = Ingest.readCsvGrouped(spark, d.toString)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 4)
    assert(rows.map(_.getAs[String]("score")).toSeq == Seq("80", "75", "90", "60"),
      "column order misaligned across header groups")
    assert(df.columns.contains("extra"))
    assert(rows(0).getAs[String]("extra") == null)
  }

  test("readCsvGrouped handles groups with DIFFERENT delimiters") {
    val d = tmpDir("csv-mixed-delim")
    write(d, "euro.csv", "day;id;score\n2024-01-01;1;80\n")
    write(d, "us.csv", "id,day,score\n2,2024-01-02,75\n")
    val rows = Ingest.readCsvGrouped(spark, d.toString).orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("score")).toSeq == Seq("80", "75"),
      "per-group delimiter detection failed — columns collapsed")
  }

  test("detectDelimiter prefers semicolon only when it dominates") {
    assert(Ingest.detectDelimiter("a;b;c") == ";")
    assert(Ingest.detectDelimiter("a,b,c") == ",")
    assert(Ingest.detectDelimiter("a,b;c,d") == ",")
  }

  test("flattenJson lifts struct fields and reduces arrays to stats") {
    val d = tmpDir("json-flat")
    write(d, "r1.json",
      """{"id": 1, "score": 85, "contributors": {"deep": 70, "rem": 90}, "met": [1.5, 2.5, 2.0]}
        |{"id": 2, "score": 60, "contributors": {"deep": 50, "rem": 55}, "met": []}
        |""".stripMargin)
    val raw = spark.read.json(d.toString + "/r1.json")
    val flat = Ingest.flattenJson(raw, Seq("contributors"), Seq("met"))
    val r1 = flat.filter(col("id") === 1).collect()(0)
    assert(r1.getAs[Long]("contributors_deep") == 70L)
    assert(r1.getAs[Double]("met_avg") == 2.0)
    assert(r1.getAs[Double]("met_max") == 2.5)
    assert(r1.getAs[Int]("met_count") == 3)
    val r2 = flat.filter(col("id") === 2).collect()(0)
    assert(r2.isNullAt(r2.fieldIndex("met_avg")))
    assert(!flat.columns.contains("contributors"))
  }

  test("normalizeTimestamp shifts by the offset column to UTC") {
    import spark.implicits._
    val df = Seq(("2024-06-01 10:00:00", "-04"), ("2024-06-01 10:00:00", "+02"))
      .toDF("ts_local", "offset")
    val out = Ingest.normalizeTimestamp(df, "ts_local", Some("offset"))
      .select(date_format(col("timestamp_utc"), "yyyy-MM-dd HH:mm:ss"))
      .as[String].collect()
    assert(out.toSeq == Seq("2024-06-01 14:00:00", "2024-06-01 08:00:00"))
  }

  test("forwardFill carries last non-null within partition order") {
    import spark.implicits._
    val df = Seq(
      (1L, 1, Some(10.0)), (1L, 2, None), (1L, 3, None), (1L, 4, Some(20.0)),
      (2L, 1, None), (2L, 2, Some(5.0))
    ).toDF("uid", "seq", "v")
    val out = Ingest.forwardFill(df, Some("uid"), "seq", Seq("v"))
      .orderBy("uid", "seq").select("v").as[Option[Double]].collect()
    assert(out.toSeq == Seq(Some(10.0), Some(10.0), Some(10.0), Some(20.0), None, Some(5.0)))
  }

  test("bucketed tables join and aggregate with no exchange on the bucket key") {
    // clean both catalog entries and any orphaned warehouse dirs from
    // previous (possibly failed) runs
    Seq("events_bucketed_a", "events_bucketed_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$t")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    val events = Tables.load(spark, Sf, "events")
    Ingest.writeBucketed(events.select("event_id", "user_id", "value"),
      "events_bucketed_a", "user_id", 8)
    Ingest.writeBucketed(events.select("event_id", "user_id", "event_type"),
      "events_bucketed_b", "user_id", 8)
    val a = spark.table("events_bucketed_a")
    val b = spark.table("events_bucketed_b")
    // force the sort-merge path (broadcast would bypass bucketing and hide
    // the co-location property under test)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = a.join(b, Seq("user_id")).groupBy("user_id").count()
      val p = planString(joined)
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucket join should not shuffle:\n${p.take(800)}")
      assert(p.contains("Bucketed: true"), p.take(400))
      assert(joined.count() > 0)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("writeZOrdered files cover tighter rectangles than a hash layout on BOTH keys") {
    val e = Tables.load(spark, Sf, "events").select("user_id", "value")
    val zdir = Files.createTempDirectory("zord").toString
    val hdir = Files.createTempDirectory("hashl").toString
    Ingest.writeZOrdered(e, zdir, "user_id", "value", numFiles = 8)
    e.repartition(8).write.mode("overwrite").parquet(hdir)
    // per-file key span, summed — the surface parquet min/max skipping
    // prunes against; a Z layout must shrink it on BOTH dimensions
    def spread(dir: String, c: String): Double =
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg((max(col(c).cast("double")) - min(col(c).cast("double"))).as("r"))
        .agg(sum("r")).head().getDouble(0)
    val (zu, hu) = (spread(zdir, "user_id"), spread(hdir, "user_id"))
    val (zv, hv) = (spread(zdir, "value"), spread(hdir, "value"))
    assert(zu < hu * 0.8, s"user_id: z $zu vs hash $hu")
    assert(zv < hv * 0.8, s"value: z $zv vs hash $hv")
    // fidelity: same rows, clustering column not leaked into the schema
    assert(spark.read.parquet(zdir).count() == e.count())
    assert(spark.read.parquet(zdir).columns.sorted.toSeq == Seq("user_id", "value"))
  }

  test("writeZOrdered quantile ranks survive a skewed key (round 12 — linear ranks degenerate)") {
    import spark.implicits._
    // a Zipf-shaped key: a handful of heavy-tail outliers stretch the
    // value range 1000×. Linear min/max ranks park ~every row at rank 0
    // (the layout then orders by the OTHER key only and each file spans
    // the key's whole bulk); equal-mass quantile ranks ignore the range
    // and keep per-file rectangles tight on BOTH keys.
    val n = 4000
    val skewed = (0 until n).map { i =>
      val len = if (i % 500 == 0) 100000.0 + i else 10.0 + (i % 97)
      (len, (i % 64).toDouble)
    }.toDF("doc_len", "dim")
    val zdir = Files.createTempDirectory("zskew").toString
    val hdir = Files.createTempDirectory("hskew").toString
    Ingest.writeZOrdered(skewed, zdir, "doc_len", "dim", numFiles = 8)
    skewed.repartition(8).write.mode("overwrite").parquet(hdir)
    // span of the BULK (outliers excluded): the skipping surface that
    // matters for the 99.8% of predicates hitting the body of the
    // distribution — a degenerate layout leaves every file spanning it
    def bulkSpread(dir: String, c: String): Double =
      spark.read.parquet(dir).filter(col("doc_len") < 100000.0)
        .groupBy(input_file_name().as("f"))
        .agg((max(col(c)) - min(col(c))).as("r"))
        .agg(sum("r")).head().getDouble(0)
    val (zl, hl) = (bulkSpread(zdir, "doc_len"), bulkSpread(hdir, "doc_len"))
    val (zd, hd) = (bulkSpread(zdir, "dim"), bulkSpread(hdir, "dim"))
    assert(zl < hl * 0.8, s"doc_len under skew: z $zl vs hash $hl")
    assert(zd < hd * 0.8, s"dim under skew: z $zd vs hash $hd")
    assert(spark.read.parquet(zdir).count().toInt == n)
  }

  test("snapshot manifests: read-as-of pins the file set across appends; a rewrite invalidates loudly") {
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = Files.createTempDirectory("snap").toString
    // an append-only landing in the admission shape: batch_id= partitions
    Seq((1L, "first"), (2L, "second")).toDF("doc_id", "text")
      .write.parquet(s"$dir/batch_id=1")
    assert(Snapshots.publishNext(spark, dir) == 1)
    Seq((3L, "third")).toDF("doc_id", "text")
      .write.parquet(s"$dir/batch_id=2")
    assert(Snapshots.publishNext(spark, dir) == 2)

    // time travel: v1 sees ONLY batch 1 even though batch 2 landed,
    // v2 sees both, and partition columns survive the pinned read
    val v1 = Snapshots.readAsOf(spark, dir, 1)
    assert(v1.count() == 2 &&
      v1.select("batch_id").distinct().collect().map(_.getInt(0)).toSet == Set(1))
    assert(Snapshots.readAsOf(spark, dir, 2).count() == 3)
    assert(spark.read.parquet(dir).count() == 3, "live read sees everything")
    val vs = Snapshots.versions(spark, dir).collect()
      .map(r => r.getAs[Int]("version") -> r.getAs[Long]("n_files")).toMap
    assert(vs.keySet == Set(1, 2) && vs(1) > 0 && vs(2) > vs(1), vs.toString)

    // history rewrite (a replayed batch overwrites its partition): the
    // invalidated snapshot FAILS LOUDLY, never a silent partial corpus
    Seq((1L, "first-replayed"), (2L, "second-replayed"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/batch_id=1")
    val broken = Snapshots.validate(spark, dir, 1)
      .filter(col("status") =!= "ok").count()
    assert(broken > 0, "the rewrite must be visible to validate")
    val ex = intercept[IllegalStateException](Snapshots.readAsOf(spark, dir, 1))
    assert(ex.getMessage.contains("history rewrite"), ex.getMessage)
    // fresh publishes keep working after the rewrite
    assert(Snapshots.publishNext(spark, dir) == 3)
    assert(Snapshots.readAsOf(spark, dir, 3).count() == 3)
  }

  test("snapshot validate is a distributed join over an executor-side listing at thousands of files") {
    import graft.sources.Snapshots
    val dir = tmpDir("snapscale").toString
    // fabricate a 3,000-file landing (publish/validate only LIST, so the
    // files need no parquet payload): 30 partitions x 100 files — the
    // shape whose per-file driver map the r12 review flagged
    val root = java.nio.file.Paths.get(dir)
    for (p <- 0 until 30) {
      val d = root.resolve(s"batch_id=$p")
      Files.createDirectories(d)
      for (i <- 0 until 100)
        Files.write(d.resolve(f"part-$i%05d.parquet"), Array[Byte](1, 2, 3))
    }
    assert(Snapshots.publishNext(spark, dir) == 1)
    assert(Snapshots.versions(spark, dir).select("n_files").head().getLong(0) == 3000L)
    val v = Snapshots.validate(spark, dir, 1)
    // the check is a manifest⋈live JOIN, not a collected file map
    assert(planString(v).contains("Join"), planString(v).take(400))
    assert(v.count() == 3000 &&
      v.filter(col("status") =!= "ok").count() == 0)
    // a SAME-PATH, SAME-SIZE in-place rewrite is caught by mtime alone
    // (ADVICE r12: size-only validation passed it silently)
    val f0 = root.resolve("batch_id=0/part-00000.parquet").toFile
    assert(f0.setLastModified(f0.lastModified() + 4000))
    val bad = Snapshots.validate(spark, dir, 1)
      .filter(col("status") === "changed").collect()
    assert(bad.length == 1 &&
      bad.head.getString(0) == "batch_id=0/part-00000.parquet", bad.mkString)
  }

  test("read-as-of hands Spark directory paths for clean partitions, files only for drifted ones") {
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = tmpDir("snapdirs").toString
    Seq((1L, "first landed document"), (2L, "second landed document"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/batch_id=1")
    Seq((3L, "third landed document")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/batch_id=2")
    assert(Snapshots.publishNext(spark, dir, publisher = "curate-run",
      countRows = true) == 1)
    // the publish metadata row surfaces in the catalog
    val meta = Snapshots.versions(spark, dir).collect().head
    assert(meta.getAs[Long]("n_files") > 0 &&
      meta.getAs[String]("publisher") == "curate-run" &&
      meta.getAs[Long]("row_count") == 3L, meta.toString)

    // drift AFTER v1: an append INTO partition 2 and a whole new
    // partition 3 — v1's files are all intact (strict passes), but only
    // partition 1 may be read at DIRECTORY grain
    Seq((9L, "late appended document")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/batch_id=2")
    Seq((4L, "fourth landed document")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/batch_id=3")
    val v1 = Snapshots.readAsOf(spark, dir, 1)
    assert(v1.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L),
      "v1 must exclude both the appended file and the new partition")
    // white-box: the scan's ROOT paths are bounded by directories —
    // one clean dir + the drifted partition's single manifest file,
    // never one path per manifest file
    val roots = v1.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(roots.length == 2, s"expected dir + drifted file: $roots")
    assert(roots.exists(_.endsWith("batch_id=1")),
      s"clean partition must be a directory path: $roots")
    assert(roots.exists(p => p.contains("batch_id=2/") && p.endsWith(".parquet")),
      s"drifted partition must fall back to its manifest file: $roots")

    // a history rewrite of partition 1: strict fails loudly; non-strict
    // reads the SURVIVORS only (the rewritten partition's files are
    // gone/changed and must be EXCLUDED — ADVICE r12)
    Seq((11L, "replayed first"), (12L, "replayed second"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/batch_id=1")
    intercept[IllegalStateException](Snapshots.readAsOf(spark, dir, 1))
    val survivors = Snapshots.readAsOf(spark, dir, 1, strict = false)
    assert(survivors.select("doc_id").as[Long].collect().toSet == Set(3L),
      "non-strict must serve only intact manifest files")
    // when NOTHING survives, the non-strict read refuses loudly instead
    // of handing Spark an empty path list (ADVICE r12)
    Seq((13L, "replayed third")).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/batch_id=2")
    val none = intercept[IllegalStateException](
      Snapshots.readAsOf(spark, dir, 1, strict = false))
    assert(none.getMessage.contains("no surviving"), none.getMessage)
  }

  test("read-as-of under NESTED partitions: leaf-grain decisions, multi-level ancestors, partition columns intact") {
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = tmpDir("snapnest").toString
    Seq((1L, "first nested document"), (2L, "second nested document"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/y=2020/m=1")
    Seq((3L, "third nested document")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/y=2020/m=2")
    Seq((4L, "fourth nested document")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/y=2021/m=1")
    assert(Snapshots.publishNext(spark, dir) == 1)

    // drift: an append INTO y=2020/m=2 and a wholly new y=2021/m=2
    Seq((9L, "late nested appendix")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/y=2020/m=2")
    Seq((5L, "fifth nested document")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/y=2021/m=2")

    val v1 = Snapshots.readAsOf(spark, dir, 1)
    assert(v1.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L), "v1 must pin exactly the published docs")
    // both partition LEVELS survive the mixed dir/file read
    assert(v1.columns.toSet == Set("doc_id", "text", "y", "m"), v1.columns.mkString(","))
    assert(v1.filter(col("y") === 2021 && col("m") === 1)
      .select("doc_id").as[Long].collect().toSeq == Seq(4L))
    // white-box: decisions are LEAF-grain — two clean leaf dirs plus
    // the drifted leaf's single manifest file; never a per-file array,
    // never a parent dir that would recursively swallow the drift
    val roots = v1.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(roots.length == 3, s"2 clean leaves + 1 drifted file: $roots")
    assert(roots.count(p => p.endsWith("y=2020/m=1") || p.endsWith("y=2021/m=1")) == 2,
      s"clean leaves must be dir paths: $roots")
    assert(roots.exists(p => p.contains("y=2020/m=2/") && p.endsWith(".parquet")),
      s"the drifted leaf must fall back to its manifest file: $roots")
  }

  test("snapshot listing tasks bind the SESSION Hadoop conf, not classpath defaults (ADVICE r13)") {
    // the production failure this guards: a landing whose filesystem is
    // configured via the SparkSession (s3a credentials, endpoints) —
    // the r13 executor tasks bound `new Configuration()`, dropping it
    val key = "graft.test.conf-marker"
    spark.sparkContext.hadoopConfiguration.set(key, "rode-the-broadcast")
    try
      assert(graft.sources.Snapshots.taskConfValue(spark, key)
        .contains("rode-the-broadcast"),
        "a session-level Hadoop key must reach the task-side fs binding")
    finally spark.sparkContext.hadoopConfiguration.unset(key)
  }

  test("versions() reads a 50-version catalog in O(1) Spark jobs") {
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = tmpDir("snapmany").toString
    Seq((1L, "the only landed document")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/batch_id=1")
    for (v <- 1 to 50)
      assert(Snapshots.publishNext(spark, dir, publisher = s"pub-$v") == v)

    spark.sparkContext.setJobGroup("versions-one-pass", "catalog read")
    val vs = try Snapshots.versions(spark, dir).collect()
      finally spark.sparkContext.clearJobGroup()
    // the status store fills asynchronously — poll briefly, then assert
    var jobs = 0
    val deadline = System.currentTimeMillis() + 10000
    while (jobs < 1 && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
      jobs = spark.sparkContext.statusTracker
        .getJobIdsForGroup("versions-one-pass").length
    }
    // a per-version shape would run one count-job PER version (≥ 50
    // here); the one-pass catalog is a CONSTANT handful (listing, schema
    // inference, the join, the collect) regardless of version count
    assert(jobs >= 1 && jobs <= 15,
      s"catalog read must be O(1) jobs — constant, well under the " +
        s"one-per-version 50 — saw $jobs")
    assert(vs.length == 50, s"${vs.length} versions")
    val byV = vs.map(r => r.getAs[Int]("version") -> r).toMap
    assert(byV(7).getAs[String]("publisher") == "pub-7" &&
      byV(7).getAs[Long]("n_files") == 1L, byV(7).toString)
  }

  test("publishNext CAS-assigns versions: two concurrent publishers never collide") {
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = tmpDir("snapcas").toString
    Seq((1L, "one landed document")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/batch_id=1")
    assert(Snapshots.publishNext(spark, dir, publisher = "first") == 1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val both = Future.sequence(Seq(
      Future(Snapshots.publishNext(spark, dir, publisher = "a")),
      Future(Snapshots.publishNext(spark, dir, publisher = "b"))))
    val got = Await.result(both, 2.minutes)
    // the no-overwrite rename is the CAS: the loser retried onto the
    // next number — never a silent same-version collision
    assert(got.toSet == Set(2, 3), got.toString)
    val vs = Snapshots.versions(spark, dir).collect()
      .map(r => r.getAs[Int]("version") -> r.getAs[String]("publisher")).toMap
    assert(vs.keySet == Set(1, 2, 3), vs.toString)
    assert(Set(vs(2), vs(3)) == Set("a", "b"), vs.toString)
    assert(Snapshots.readAsOf(spark, dir, 3).count() == 1)
  }

  test("a manifest written but never committed is not a version, and the next publish takes the next number") {
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = tmpDir("snapcrash").toString
    Seq((1L, "one landed document")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/batch_id=1")
    assert(Snapshots.publishNext(spark, dir) == 1)
    // a publisher dies between its manifest write and its log entry
    Seq(("batch_id=1/ghost.parquet", 1L, 1L, "crashed", -1L))
      .toDF("path", "size", "mtime", "publisher", "row_count")
      .coalesce(1).write.parquet(s"$dir/_snapshots/m=pub-crashed")
    assert(Snapshots.versions(spark, dir).select("version").as[Int]
      .collect().toSeq == Seq(1))
    Seq((2L, "two landed document")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/batch_id=2")
    assert(Snapshots.publishNext(spark, dir) == 2)
    assert(Snapshots.readAsOf(spark, dir, 1).count() == 1 &&
      Snapshots.readAsOf(spark, dir, 2).count() == 2)
  }

  test("snapshot retention: expireVersions drops old manifests only; expired reads fail naming the expiry") {
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = tmpDir("snapexp").toString
    for (v <- 1 to 3) {
      Seq((v.toLong, s"landed document number $v")).toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$dir/batch_id=$v")
      assert(Snapshots.publishNext(spark, dir) == v)
    }
    assert(Snapshots.expireVersions(spark, dir, keepLast = 2) == Seq(1))
    val left = Snapshots.versions(spark, dir).select("version")
      .as[Int].collect().toSet
    assert(left == Set(2, 3), left.toString)
    // data files are untouched: the surviving versions still read, and
    // the live landing is whole
    assert(Snapshots.readAsOf(spark, dir, 2).count() == 2)
    assert(spark.read.parquet(dir).count() == 3)
    // an expired version fails with a NAMED error, not a bare path miss
    val ex = intercept[IllegalStateException](Snapshots.readAsOf(spark, dir, 1))
    assert(ex.getMessage.contains("expired") &&
      ex.getMessage.contains("2, 3"), ex.getMessage)
  }

  test("data card per snapshot version: v1's card is stable after v2 lands; the diff names exactly the moved metrics") {
    import graft.sources.Snapshots
    import graft.operators.CorpusOps
    import spark.implicits._
    val dir = tmpDir("snapcard").toString
    Seq((1L, "a measured chronicle of tidal observatories and their patient archivists"),
      (2L, "the second landed report concerns pendulum orchards at dusk"),
      (3L, "a third narrative follows cartographers indexing paper boats"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/batch_id=1")
    assert(Snapshots.publishNext(spark, dir) == 1)
    val card1 = CorpusOps.dataCardAsOf(spark, dir, 1).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

    // v2 lands two more (short, so tokens AND mean quality move; no
    // exact dups either side, so that metric must NOT move)
    Seq((4L, "tiny note"), (5L, "another brief memo")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/batch_id=2")
    assert(Snapshots.publishNext(spark, dir) == 2)

    // stability: the v1 card is bit-identical after v2 landed
    val card1b = CorpusOps.dataCardAsOf(spark, dir, 1).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(card1b == card1, s"v1 card drifted: $card1 vs $card1b")
    assert(card1("corpus_docs") == 3.0 && card1("exact_dup_docs") == 0.0)

    // the version-over-version diff names exactly the moved metrics
    val diff = CorpusOps.dataCardDiff(
      CorpusOps.dataCardAsOf(spark, dir, 1),
      CorpusOps.dataCardAsOf(spark, dir, 2)).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(diff("corpus_docs") == "changed" &&
      diff("corpus_tokens") == "changed" &&
      diff("mean_quality") == "changed" &&
      diff("exact_dup_docs") == "unchanged", diff.toString)

    // and the DOC-grain companion: v1→v2 on an append-only landing is
    // pure additions — the original docs unchanged, the new ones added
    val docDiff = CorpusOps.snapshotDiffAsOf(spark, dir, 1, 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(docDiff == Map(1L -> "unchanged", 2L -> "unchanged",
      3L -> "unchanged", 4L -> "added", 5L -> "added"), docDiff.toString)
  }

  test("the release card carries the serving state: generations + calibrated knobs ride as serving_ rows, pinned at card time") {
    import graft.operators.{CorpusOps, Dedup, TextRank}
    import spark.implicits._
    val band = "card_serving_band"
    val text = "card_serving_text"
    graft.sources.TablePointer.dropAll(spark, band, Dedup.BandSuffixes)
    graft.sources.TablePointer.dropAll(spark, text,
      Seq("_df", "_meta", "_champ", "_cal"))
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    Dedup.refreshIndex(d, band, numBuckets = 8, screenRecallTarget = 0.75)
    TextRank.refreshTextIndex(d, text, serveRecallTarget = 0.9)
    val out = java.nio.file.Files.createTempDirectory("card-serving").toString
    val card = CorpusOps.dataCardWithServing(d, band, out,
        textTable = Some(text)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // corpus rows AND serving rows in one artifact
    assert(card("corpus_docs") == d.count().toDouble)
    assert(card("serving_band_generation") == 1.0, card.toString)
    assert(card("serving_band_calibrated_threshold") >= 1.0)
    assert(card("serving_text_generation") == 1.0)
    assert(card("serving_text_cal_max_df_frac") > 0.0 &&
      card("serving_text_cal_recall_target") == 0.9, card.toString)
    // the card is a point-in-time artifact: a later refresh moves the
    // LIVE recompute's generation rows but never the captured card
    Dedup.refreshIndex(d, band, numBuckets = 8)
    TextRank.refreshTextIndex(d, text)
    val live = CorpusOps.servingStateRows(spark, band, out,
        textTable = Some(text)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(live("serving_band_generation") == 2.0 &&
      live("serving_text_generation") == 2.0, live.toString)
    // the uncalibrated second refresh reads the sentinel — exactly what
    // a release reviewer should see on a card cut from this state
    assert(live("serving_text_cal_max_df_frac") == -1.0)
    assert(card("serving_band_generation") == 1.0,
      "the captured card must not drift under later refreshes")
    graft.sources.TablePointer.dropAll(spark, band, Dedup.BandSuffixes)
    graft.sources.TablePointer.dropAll(spark, text,
      Seq("_df", "_meta", "_champ", "_cal"))
  }

  test("writeZOrdered degrades to a plain write when either key is all-null (ADVICE r11)") {
    import spark.implicits._
    val d = Seq((1.0, None: Option[Double]), (2.0, None))
      .toDF("a", "b")
    val dir = Files.createTempDirectory("znull").toString
    Ingest.writeZOrdered(d, dir, "a", "b") // must not throw
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("index refresh survives an orphaned warehouse location (restart idempotence)") {
    import graft.operators.Dedup
    // simulate a CRASHED refresh's leftovers: debris under the name the
    // next refresh will STAGE (the pointer never moved, so the same
    // generation number re-stages — TablePointer's documented debris
    // case) with NO catalog entry. saveAsTable(overwrite) alone fails
    // LOCATION_ALREADY_EXISTS on exactly this state (found live by
    // Curate --indexes on a second driver run, pre-generations).
    val t = "orphan_band_idx"
    graft.sources.TablePointer.dropAll(spark, t, Dedup.BandSuffixes)
    val staged = graft.sources.TablePointer.stage(spark, t)
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), staged)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(loc)
    val out = fs.create(new org.apache.hadoop.fs.Path(loc, "stale.parquet"))
    out.write(Array[Byte](1, 2, 3)); out.close()

    val docs = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    Dedup.refreshIndex(docs, t, numBuckets = 4) // must not throw
    assert(graft.sources.TablePointer.resolve(spark, t) == staged &&
      spark.catalog.tableExists(staged))
    // the stale file is gone — the refresh owns the location now
    assert(!fs.exists(new org.apache.hadoop.fs.Path(loc, "stale.parquet")))

    // and a pointer-published index refreshes again through the normal
    // path: a new generation lands and serves
    Dedup.refreshIndex(docs, t, numBuckets = 4)
    assert(graft.sources.TablePointer.generationOf(
      graft.sources.TablePointer.resolve(spark, t)) == 2)
    assert(spark.table(graft.sources.TablePointer.resolve(spark, t)).count() > 0)
    graft.sources.TablePointer.dropAll(spark, t, Dedup.BandSuffixes)
  }

  test("validateLanding routes files by header contract: valid, quarantined, drifted, delimiter fallback") {
    val d = tmpDir("landing")
    Files.createDirectories(d.resolve("alpha"))
    Files.createDirectories(d.resolve("beta"))
    Files.createDirectories(d.resolve("misc"))
    // raw headers need the trigger's normalization ('Day Score' → day_score)
    write(d.resolve("alpha"), "good.csv", "ID,Day,Score\n1,2024-01-01,80\n")
    write(d.resolve("alpha"), "short.csv", "id,day\n1,2024-01-01\n")
    write(d.resolve("alpha"), "drift.csv", "id,day,score,New Col\n1,2024-01-01,80,x\n")
    write(d.resolve("beta"), "semi.csv", "date;value\n2024-01-01;3\n")
    write(d.resolve("misc"), "free.csv", "whatever,cols\n1,2\n")
    val contracts = Map("alpha" -> Seq("id", "day", "score"),
      "beta" -> Seq("date", "value"))
    val rep = Ingest.validateLanding(spark, d.toString, contracts)
      .collect().map(r => r.getAs[String]("file").split('/').last -> r).toMap
    assert(rep("good.csv").getAs[String]("status") == "ingested")
    assert(rep("good.csv").getAs[Boolean]("valid"))
    assert(rep("short.csv").getAs[String]("status") == "quarantined")
    assert(rep("short.csv").getSeq[String](rep("short.csv").fieldIndex("missing")).toSeq == Seq("score"))
    assert(rep("drift.csv").getAs[Boolean]("valid"), "drift is ingested, not quarantined")
    assert(rep("drift.csv").getSeq[String](rep("drift.csv").fieldIndex("unexpected")).toSeq == Seq("new_col"))
    assert(rep("semi.csv").getAs[Boolean]("valid"), "semicolon delimiter must fall back")
    assert(rep("semi.csv").getAs[String]("source") == "beta")
    // unknown source: empty contract validates, the reference's behavior
    assert(rep("free.csv").getAs[String]("source") == "unknown")
    assert(rep("free.csv").getAs[Boolean]("valid"))
  }

  test("driftAlerts raises once per source per cooldown window") {
    val d = tmpDir("landing-drift")
    Files.createDirectories(d.resolve("alpha"))
    write(d.resolve("alpha"), "drift.csv", "id,day,score,surprise\n1,2,3,4\n")
    val contracts = Map("alpha" -> Seq("id", "day", "score"))
    val rep = Ingest.validateLanding(spark, d.toString, contracts)
    val log = tmpDir("drift-log").toString + "/log"
    val t0 = 1700000000L
    val first = Ingest.driftAlerts(spark, rep, log, nowTs = t0)
    assert(first.count() == 1)
    assert(first.head().getSeq[String](first.head().fieldIndex("new_columns")).toSeq == Seq("surprise"))
    // same drift inside the cooldown: suppressed
    val second = Ingest.driftAlerts(spark, rep, log, nowTs = t0 + 10)
    assert(second.count() == 0, "alert inside the cooldown must be suppressed")
    // past the cooldown: raised again
    val third = Ingest.driftAlerts(spark, rep, log, nowTs = t0 + 3601)
    assert(third.count() == 1)
    // the log accumulated exactly the two raised alerts
    assert(spark.read.parquet(log).count() == 2)
  }

  test("readEvolved merges schemas when a column appears mid-history") {
    import spark.implicits._
    val d = tmpDir("evolve")
    // month 1 written before the quality column existed; month 2 carries it
    Seq((1L, 80.0), (2L, 75.0)).toDF("id", "score")
      .withColumn("month", lit(1))
      .write.partitionBy("month").mode("append").parquet(d.toString + "/t")
    Seq((3L, 90.0, "good"), (4L, 60.0, "poor")).toDF("id", "score", "quality")
      .withColumn("month", lit(2))
      .write.partitionBy("month").mode("append").parquet(d.toString + "/t")
    val back = Ingest.readEvolved(spark, d.toString + "/t")
    assert(back.columns.contains("quality"), "merged schema must carry the new column")
    val rows = back.orderBy("id").collect()
    assert(rows.length == 4)
    assert(rows(0).getAs[String]("quality") == null, "pre-evolution rows surface NULL")
    assert(rows(2).getAs[String]("quality") == "good")
    // partition pruning must still hold under mergeSchema
    val pruned = back.filter(col("month") === 2)
    assert(pruned.count() == 2)
  }

  test("writePartitioned lays out year/month directories that prune on read") {
    val d = tmpDir("part-write")
    val events = Tables.load(spark, Sf, "events")
    Ingest.writePartitioned(events, "ts", d.toString + "/out")
    val years = new java.io.File(d.toString + "/out").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(years.exists(_.startsWith("year=")), years.mkString(","))
    val back = spark.read.parquet(d.toString + "/out")
      .filter(col("year") === 2024 && col("month") === 1)
    assert(back.count() > 0)
    val p = planString(back)
    assert(!p.contains("year=2025") || p.contains("PartitionFilters"), "partition pruning expected")
  }

  test("writePartitioned in ORC round-trips with pruning and pushed predicates") {
    val d = tmpDir("orc-write")
    val events = Tables.load(spark, Sf, "events")
    Ingest.writePartitioned(events, "ts", d.toString + "/out", format = "orc")
    val back = spark.read.orc(d.toString + "/out")
      .filter(col("month") === 1 && col("event_type") === "purchase")
      .select("event_id", "user_id", "value")
    assert(back.count() ==
      events.filter(month(col("ts")) === 1 && col("event_type") === "purchase").count())
    val p = back.queryExecution.executedPlan.toString
    assert(p.contains("orc") || p.contains("Orc"), p.take(200))
    // the same scan disciplines as parquet: the data predicate reaches the
    // ORC reader and the untouched columns stay out of the read schema
    assert(p.contains("PushedFilters: [") && p.contains("event_type"),
      "event_type filter must push into the ORC scan")
    assert(!p.toLowerCase.contains("props"), "unselected column must be pruned")
  }
}
