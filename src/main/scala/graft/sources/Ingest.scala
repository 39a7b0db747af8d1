package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

/** Bronze-layer ingest: mixed-layout CSV, nested JSON flattening, timestamp
  * normalization, forward-fill, partitioned parquet writes.
  *
  * Re-expresses the reference's Glue normalizers
  * (reference: glue/oura_normalizer.py:83-223 — header-signature CSV
  * grouping + unionByName, JSON record flattening;
  * glue/bio_etl_utils.py:135-187 — normalize_timestamp, forward_fill;
  * glue/oura_normalizer.py:295 — year/month partitioned writes) with two
  * scale-relevant changes: file listing/header sniffing goes through the
  * Hadoop FileSystem API (works against HDFS/S3A, lists once, reads 1 KiB
  * per file), and JSON flattening is a distributed `spark.read.json` +
  * column expressions — the reference pulls every record through the
  * driver, which caps out in the low GBs.
  */
object Ingest {

  /** Sniff the delimiter of a header line: ';' when it beats ',' (the
    * reference's European-locale exports), ',' otherwise.
    * (reference: oura_normalizer.py:84-96)
    */
  def detectDelimiter(headerLine: String): String =
    if (headerLine.count(_ == ';') > headerLine.count(_ == ',')) ";" else ","

  /** First line of every file, sniffed as a distributed job: the paths are
    * parallelized and each task opens its file through the Hadoop
    * FileSystem API and reads one line. A driver-side loop serializes at
    * large file counts (millions of S3 objects × one round-trip each);
    * here the round-trips run cluster-wide. The Hadoop Configuration is
    * shipped as Writable bytes — it is not Java-serializable, and Spark's
    * own wrapper for this is private.
    */
  private def firstLinesRdd(spark: SparkSession, paths: Seq[Path])
      : org.apache.spark.rdd.RDD[(String, String)] = {
    val confBytes: Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(baos)
      spark.sparkContext.hadoopConfiguration.write(out)
      out.flush()
      baos.toByteArray
    }
    val slices = math.max(1, math.min(paths.size, 64))
    spark.sparkContext.parallelize(paths.map(_.toString), slices)
      .map { s =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        conf.readFields(new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(confBytes)))
        val p = new Path(s)
        val in = p.getFileSystem(conf).open(p)
        try {
          val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
          s -> Option(r.readLine()).getOrElse("").strip()
        } finally in.close()
      }
  }

  private def firstLines(spark: SparkSession, paths: Seq[Path]): Map[String, String] =
    firstLinesRdd(spark, paths).collect().toMap

  /** Read a directory of CSVs whose files disagree on column ORDER (and
    * possibly on column presence). Spark's CSV reader binds columns by
    * position, so one read over mixed layouts silently misaligns values;
    * instead, group files by exact header signature, read each group in
    * one pass, and `unionByName(allowMissingColumns = true)` the groups.
    * (reference: oura_normalizer.py:98-148)
    *
    * Header sniffing reads only the first line of each file; the bulk data
    * reads stay fully parallel (one distributed read per layout group —
    * layout-group count is small and data-size independent).
    */
  def readCsvGrouped(spark: SparkSession, dir: String): DataFrame = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".csv") && st.getLen > 0)
      .map(_.getPath)
    require(files.nonEmpty, s"no csv files under $dir")

    val headers = firstLines(spark, files)
    val byHeader: Map[String, Seq[Path]] =
      files.groupBy(p => headers(p.toString))

    // delimiter is detected PER header group — a directory can mix
    // ';'-exported and ','-exported batches, and applying one group's
    // delimiter to the other would silently collapse its columns into
    // one unsplit string
    val groups = byHeader.toSeq.sortBy(_._1).map { case (header, paths) =>
      spark.read
        .option("header", "true")
        .option("inferSchema", "false")
        .option("sep", detectDelimiter(header))
        .csv(paths.map(_.toString): _*)
    }
    groups.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Distributed JSON ingest + flatten: read nested records with
    * spark.read.json, then lift selected struct fields to
    * `parent_field` top-level columns and reduce numeric arrays to
    * (interval, avg, max, count) stats via higher-order functions —
    * the reference's per-record python flattening as pure column
    * expressions. (reference: oura_normalizer.py:151-223)
    *
    * @param structCols  struct columns whose fields become `parent_field`
    * @param arrayStats  array columns reduced to `{name}_avg/_max/_count`
    */
  def flattenJson(df: DataFrame, structCols: Seq[String], arrayStats: Seq[String]): DataFrame = {
    val flat = structCols.foldLeft(df) { (d, sc) =>
      d.schema(sc).dataType match {
        case st: StructType =>
          st.fieldNames.foldLeft(d)((dd, f) =>
            dd.withColumn(s"${sc}_$f", col(s"$sc.$f"))).drop(sc)
        case _ => d
      }
    }
    arrayStats.foldLeft(flat) { (d, ac) =>
      d.withColumn(s"${ac}_avg",
          when(size(col(ac)) > 0,
            round(aggregate(col(ac), lit(0.0), (a, x) => a + x) / size(col(ac)), 2)))
        .withColumn(s"${ac}_max", array_max(col(ac)))
        .withColumn(s"${ac}_count", size(col(ac)))
        .drop(ac)
    }
  }

  /** Normalize a timestamp column to UTC: with an offset column (e.g.
    * "-04"), shift via to_utc_timestamp(GMT+offset); otherwise parse as-is.
    * Adds `timestamp_utc`. (reference: bio_etl_utils.py:135-155)
    */
  def normalizeTimestamp(df: DataFrame, tsCol: String, offsetCol: Option[String] = None): DataFrame =
    offsetCol.filter(df.columns.contains) match {
      case Some(oc) =>
        df.withColumn("timestamp_utc",
          to_utc_timestamp(col(tsCol), concat(lit("GMT"), col(oc))))
      case None =>
        df.withColumn("timestamp_utc", to_timestamp(col(tsCol)))
    }

  /** Forward-fill nulls: carry the last non-null value within the
    * partition, ordered by `orderCol`. Always partition by an entity key
    * at scale — passing None collapses to a single partition and is only
    * for genuinely small frames. (reference: bio_etl_utils.py:163-187)
    */
  def forwardFill(df: DataFrame, partitionCol: Option[String], orderCol: String,
                  fillCols: Seq[String]): DataFrame = {
    val base = partitionCol match {
      case Some(pc) => Window.partitionBy(pc).orderBy(orderCol)
      case None => Window.orderBy(orderCol)
    }
    val w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fillCols.foldLeft(df)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** Partitioned columnar write: derive year/month from a timestamp
    * column and write partitionBy(year, month) so downstream reads prune
    * by date predicates. (reference: oura_normalizer.py:295)
    *
    * `format` is parquet (default) or orc — both ship in the Spark
    * distribution with partition pruning and predicate pushdown; Avro
    * would need the external spark-avro connector, which is absent from
    * /opt/spark/jars (a §6 non-goal with the same jar evidence as
    * Delta/Iceberg).
    */
  def writePartitioned(df: DataFrame, tsCol: String, outPath: String,
                       format: String = "parquet"): Unit =
    df.withColumn("year", year(col(tsCol)))
      .withColumn("month", month(col(tsCol)))
      .write.mode("overwrite")
      .partitionBy("year", "month")
      .format(format)
      .save(outPath)

  /** Read an evolving partitioned parquet history with schema merge:
    * partitions written before a column existed surface it as NULL, so one
    * read spans the whole history — the reference's normalizer merges
    * evolving CSV/JSON layouts the same way on ingest
    * (reference: oura_normalizer.py:98-148 header-signature schema merge).
    * This is the public-knowledge stand-in for Delta/Iceberg schema
    * evolution (SURVEY §6 non-goal — the table-format jars are absent):
    * `mergeSchema` pays a footer read per partition file at planning time,
    * so at 100 TB set it here (per-read) and not globally, and compact
    * small files first.
    */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Bucketed managed-table write: pre-shuffle once at write time so every
    * later equi-join/aggregation on the bucket key is co-located —
    * repeated joins on (say) user_id then plan with NO exchange on either
    * side. This is the SURVEY §4 co-location strategy for fact⋈fact joins
    * at 100 TB: pay the shuffle once in the pipeline that lands the data,
    * never per query.
    */
  /** Remove an ORPHANED managed-table location. `saveAsTable(overwrite)`
    * replaces a table the CATALOG knows, but a fresh session pointed at
    * a reused warehouse directory (a second driver run, a crash-restart
    * — exactly the Curate→Admit day-2 sequence) sees the previous run's
    * directory with no catalog entry and fails LOCATION_ALREADY_EXISTS
    * instead of refreshing. Deleting the location ONLY when the catalog
    * has no entry is safe: a catalog-known table never takes the branch,
    * and a catalog-unknown directory under a managed table's name is by
    * definition dead state from a dead session. Every index refresh
    * calls this before its overwrite, making refresh idempotent across
    * driver restarts. (Found live: Curate --indexes on a second
    * SparkSession against the same repo warehouse.)
    *
    * This is a RECURSIVE DELETE, so the existence check and the path
    * derivation must name the SAME table (ADVICE r11): the bare
    * `tableExists(table)` resolves against the session's CURRENT
    * database while `warehouse.dir/<table>` is the DEFAULT database's
    * managed location — in a session sitting in another database the
    * check could miss a live default-db table and the branch would
    * delete real data. Both sides are therefore pinned to the default
    * database: the name is required unqualified (a qualified name's
    * location isn't `warehouse.dir/<name>` anyway), the check is
    * `default.<table>`, and the path comes from the catalog's own
    * default-table-path rule rather than hand-gluing strings.
    */
  def clearStaleLocation(s: SparkSession, table: String): Unit = {
    require(!table.contains("."),
      s"clearStaleLocation expects an unqualified table name in the " +
        s"default database, got '$table' — a qualified table's managed " +
        "location is not warehouse.dir/<name>, so the orphan check and " +
        "the delete path would disagree")
    if (!s.catalog.tableExists(s"default.$table")) {
      val loc = new Path(s.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table, Some("default"))))
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
  }

  /** Z-order (Morton) clustered write — the `OPTIMIZE ZORDER BY (a, b)`
    * stand-in: rows sort by the bit-interleave of their two keys'
    * 16-bit min/max-normalized ranks, so each output file covers a
    * RECTANGLE in (a, b) space instead of a stripe in one key (or
    * everything, under a hash layout). Parquet's per-file/row-group
    * min/max stats then skip files for predicates on EITHER key — the
    * multi-column data-skipping property single-key sorting can't give.
    * IngestSpec measures the claim: per-file key ranges tighten on BOTH
    * columns versus a hash layout of the same file count.
    *
    * Scale shape: one two-column approx-quantile pass (Greenwald-Khanna
    * sketches, mergeable — one scan for both keys), then a row-local Z
    * expression and one range repartition (the same exchange any
    * clustered rewrite pays). Rank normalization is EQUAL-MASS quantile
    * ranks (round 12 — VERDICT r11 #5): the r11 linear min/max rank
    * concentrated a skewed key's whole mass into a handful of Z values
    * (one heavy-tail outlier stretched the range, every other row
    * ranked ~0 and the layout degenerated to single-key order); 255
    * quantile boundaries give each key an 8-bit rank with ~equal rows
    * per rank regardless of the value distribution, so per-file
    * rectangles stay tight under skew. 8+8 bits interleave to the same
    * 16-bit Z; 256 ranks per key bound useful numFiles at 65536 —
    * far past any clustered write's file-count sweet spot.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    numFiles: Int = 8): Unit = {
    require(!df.columns.contains("_z"),
      "writeZOrdered uses '_z' as its clustering column; rename the input's _z first")
    val bits = 8
    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
    // ONE pass computes both keys' boundary sketches; approxQuantile
    // ignores nulls and returns an EMPTY array for an all-null column
    val Array(ba, bb) = df
      .select(col(colA).cast("double").as("_qa"), col(colB).cast("double").as("_qb"))
      .stat.approxQuantile(Array("_qa", "_qb"), probs, 0.001)
    // degrade to a plain write when EITHER key has no non-null values
    // (ADVICE r11: an all-null colB used to pass a colA-only guard and
    // NPE) — there is nothing to interleave against
    if (ba.isEmpty || bb.isEmpty) {
      df.write.mode("overwrite").parquet(path)
      return
    }
    // rank = boundaries ≤ value, a row-local fold over the broadcast
    // 255-element literal (nulls rank 0 and cluster together)
    def rank8(c: String, bs: Array[Double]): Column =
      aggregate(typedLit(bs.toSeq), lit(0L),
        (acc, bd) => acc + when(col(c).cast("double") >= bd, 1L).otherwise(0L))
    val za = rank8(colA, ba)
    val zb = rank8(colB, bb)
    val z = (0 until bits).map(i =>
      shiftleft(shiftright(za, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(zb, i).bitwiseAND(lit(1L)), 2 * i + 1))
      .reduce(_ + _)
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int, sortCol: Option[String] = None,
                    moreBucketCols: Seq[String] = Nil): Unit = {
    clearStaleLocation(df.sparkSession, table)
    // repartition on the bucket keys first: Spark's bucketed writer emits
    // one file per (task, bucket) pair, so an un-repartitioned frame with
    // P upstream partitions lands up to P files PER BUCKET. repartition's
    // HashPartitioning is the same murmur3 pmod the bucket id uses, so
    // after it each task holds exactly one bucket — a refresh always
    // lands ONE file per bucket, which is what makes [[needsCompaction]]
    // a meaningful trigger (file growth = appends, never write fan-out).
    // One extra batch/corpus-sized exchange per refresh, paid where the
    // refresh already pays its corpus shuffle.
    val keyed = df.repartition(numBuckets, (bucketCol +: moreBucketCols).map(col): _*)
    val w = keyed.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol, moreBucketCols: _*)
    sortCol.fold(w)(sc => w.sortBy(sc)).saveAsTable(table)
  }

  /** Bucketed APPEND: add a batch to an existing [[writeBucketed]] table
    * under the SAME bucket spec — each append lands new per-bucket files,
    * the scan stays `Bucketed: true`, and later probes keep their
    * no-index-side-exchange plan. The incremental half of the §4
    * co-location contract: the landing pipeline pays one batch-sized
    * shuffle per append, never a corpus-sized rebuild. (Spark validates
    * the bucket spec against the existing table; a mismatched spec fails
    * loudly rather than silently degrading the table.)
    */
  def appendBucketed(df: DataFrame, table: String, bucketCol: String,
                     moreBucketCols: Seq[String] = Nil): Unit = {
    // the existing table owns the bucket spec: read its count from the
    // catalog so an append can never mismatch it (Spark fails loudly on
    // a mismatched spec; deriving it removes the failure mode entirely)
    val numBuckets = df.sparkSession.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalArgumentException(
        s"$table is not a bucketed table — refresh it with writeBucketed first"))
    // same one-file-per-bucket discipline as [[writeBucketed]]: an append
    // then adds AT MOST one file per bucket, so files-per-bucket counts
    // appends since the last refresh — the small-file growth
    // [[needsCompaction]] watches
    df.repartition(numBuckets, (bucketCol +: moreBucketCols).map(col): _*)
      .write.mode("append").format("parquet")
      .bucketBy(numBuckets, bucketCol, moreBucketCols: _*)
      .saveAsTable(table)
    // drop any cached file listing for the table NOW: a foreachBatch
    // clone session can otherwise keep serving the pre-append listing to
    // the next micro-batch's probe (observed: a batch-0 admission
    // invisible to batch 1's screen until refresh)
    df.sparkSession.catalog.refreshTable(table)
  }

  /** Files per bucket of a bucketed managed table, by listing the table
    * location and parsing the writer's `_NNNNN.cNNN` bucket-id suffix —
    * the observable [[needsCompaction]] thresholds. Pure metadata: one
    * directory listing, no data read.
    */
  def bucketFileCounts(spark: SparkSession, table: String): Map[Int, Int] = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val loc = new Path(meta.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketId = "_(\\d{5})\\.c\\d+".r
    fs.listStatus(loc).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .flatMap(st => bucketId.findFirstMatchIn(st.getPath.getName)
        .map(_.group(1).toInt))
      .groupBy(identity).map { case (b, files) => b -> files.size }
  }

  /** Files per PARTITION of a partitioned managed table (the
    * `cell=…`-directory layout of the IVF-PQ member table, whose
    * appends add files per touched partition the way bucketed appends
    * add files per bucket). Pure metadata: one
    * two-level listing, no data read. Round 10 — the bucketed trigger
    * left the PARTITIONED standing tables unwatched.
    */
  def partitionFileCounts(spark: SparkSession, table: String): Map[String, Int] = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val loc = new Path(meta.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(loc).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map { dir =>
        dir.getPath.getName -> fs.listStatus(dir.getPath).count(st =>
          st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
      }.toMap
  }

  /** The compaction trigger the append docstrings promise (VERDICT r8
    * #2): true when any bucket of `table` has accumulated more than
    * `maxFilesPerBucket` files. Under the one-file-per-bucket write
    * discipline ([[writeBucketed]]/[[appendBucketed]] repartition on the
    * bucket keys), files-per-bucket = 1 + appends touching the bucket
    * since the last refresh, so the threshold is literally "refresh
    * after N appends" — decided from the table's own layout, never a
    * counter someone forgets to persist. Callers answer `true` with the
    * family's refresh ([[graft.operators.Dedup.refreshIndex]]), which
    * rewrites one file per bucket AND re-tightens the per-append
    * hot-bucket guard.
    *
    * Non-bucketed tables dispatch to the PARTITION grain
    * ([[partitionFileCounts]] — round 10): the IVF-PQ member table is
    * cell-partitioned, and its appends grow per-partition files on
    * exactly the same schedule; its compaction answer is the members
    * rewrite ([[graft.operators.Ann.rebuildPqIndex]]).
    */
  def needsCompaction(spark: SparkSession, table: String,
                      maxFilesPerBucket: Int): Boolean = {
    val bucketed = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.isDefined
    val counts =
      if (bucketed) bucketFileCounts(spark, table).values
      else partitionFileCounts(spark, table).values
    counts.exists(_ > maxFilesPerBucket)
  }

  // --- Ingest admission control ------------------------------------------
  // The ingestion trigger's validation layer (reference:
  // lambda/ingestion_trigger/handler.py:29-170): per-source expected-header
  // contracts, source detection from the landing path, delimiter fallback,
  // the SAME snake_case normalization the normalizers apply, a
  // missing/unexpected column diff per file, and schema-drift alerts with
  // a per-source cooldown. The reference validates one S3 object per
  // Lambda event; a 100 TB landing zone admits thousands of files per
  // batch, so here the header reads run cluster-wide ([[firstLines]]) and
  // the report is one frame for the whole landing.

  /** The reference's header normalization — one regex, shared verbatim by
    * the trigger and every normalizer (handler.py:131 SYNC comment;
    * [[Normalizers.snakeCaseColumns]] is the DataFrame-level twin).
    */
  def normalizeHeader(h: String): String =
    h.strip.replaceAll("[.\\s/()]+", "_").toLowerCase.replaceAll("^_+|_+$", "")

  /** First contract key contained in the file path, else "unknown"
    * (handler.py:110-115; sorted so overlapping keys resolve
    * deterministically).
    */
  def detectSource(path: String, contracts: Map[String, Seq[String]]): String =
    contracts.keys.toSeq.sorted.find(path.contains).getOrElse("unknown")

  /** Validate every landed file's header line against its source's
    * contract: missing columns ⇒ invalid (`quarantined` — the trigger
    * skips the normalizer job for these), unexpected columns ⇒ schema
    * drift (ingested, but [[driftAlerts]] raises it). Unknown sources
    * have an empty contract and therefore validate, exactly like the
    * reference's `EXPECTED_HEADERS.get(source, [])`.
    *
    * The per-file header reads are the distributed [[firstLinesRdd]] pass,
    * and the per-header contract diff runs in the SAME pass (the contracts
    * map ships in the task closure — it is per-source, so bytes-small at
    * any file count): nothing but the final report DataFrame ever
    * materializes, so a landing of millions of objects never assembles
    * rows on the driver (VERDICT r7 #5).
    */
  def validateLanding(spark: SparkSession, dir: String,
                      contracts: Map[String, Seq[String]]): DataFrame = {
    import spark.implicits._
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = {
      val it = fs.listFiles(root, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) buf += it.next().getPath
      buf.toSeq
    }
    firstLinesRdd(spark, files).map { case (path, line) =>
      val source = detectSource(path, contracts)
      val expected = contracts.getOrElse(source, Seq.empty)
      val raw0 = line.split(",", -1).toSeq
      val raw = if (raw0.length <= 1) line.split(";", -1).toSeq else raw0
      val found = raw.map(normalizeHeader)
      val missing = (expected.toSet -- found.toSet).toSeq.sorted
      val unexpected = (found.toSet -- expected.toSet).toSeq.sorted
      val valid = missing.isEmpty
      (path, source, found.length, missing, unexpected, valid,
        if (valid) "ingested" else "quarantined")
    }.toDF("file", "source", "header_count", "missing", "unexpected",
      "valid", "status")
  }

  /** Schema-drift alerting with a per-source cooldown (handler.py:78-106,
    * 140-160): sources showing unexpected columns raise ONE alert per
    * cooldown window, recorded in a parquet log so repeat landings stay
    * quiet. `nowTs` (epoch seconds) is an argument, never the clock —
    * the repo's determinism discipline. Returns the alerts emitted by
    * THIS call (empty when everything was already alerted or clean).
    */
  def driftAlerts(spark: SparkSession, report: DataFrame, logDir: String,
                  nowTs: Long, cooldownSec: Long = 3600): DataFrame = {
    val drifted = report.filter(size(col("unexpected")) > 0)
      .groupBy("source")
      .agg(sort_array(array_distinct(flatten(collect_list(col("unexpected")))))
        .as("new_columns"))
    val recent =
      try spark.read.parquet(logDir)
        .filter(col("alert_ts") > nowTs - cooldownSec)
        .select("source").distinct()
      catch { case _: org.apache.spark.sql.AnalysisException => // no log yet
        return emitDrift(spark, drifted, logDir, nowTs)
      }
    emitDrift(spark, drifted.join(recent, Seq("source"), "left_anti"), logDir, nowTs)
  }

  private def emitDrift(spark: SparkSession, toAlert: DataFrame,
                        logDir: String, nowTs: Long): DataFrame = {
    // localCheckpoint pins the computed rows, so the appended log and the
    // returned frame are the same materialization — and the return is
    // exactly THIS call's alerts, not a re-read of the log filtered by
    // alert_ts (two calls sharing nowTs would each see the union —
    // ADVICE r7).
    val alerts = toAlert.withColumn("alert_ts", lit(nowTs))
      .select("source", "new_columns", "alert_ts")
      .localCheckpoint()
    alerts.write.mode("append").parquet(logDir)
    alerts
  }
}
