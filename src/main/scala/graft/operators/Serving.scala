package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StructType

/** The per-request plumbing every standing-index serving read shares
  * ([[TextRank.searchTextIndex]], [[TextRank.searchTextIndexChampion]],
  * [[Ann.searchPqIndex]], [[Ann.probePqIndex]],
  * [[TextRank.hybridSearchIndexed]]): one bounded query side, one
  * driver-side memo of the small per-generation companion tables and
  * one final sort.
  */
private[graft] object Serving {

  /** The bounded query side of a serving read: ONE collect of
    * `maxRows + 1` rows fails loudly with `tooMany` past the bound, and
    * the collected rows come back as a local relation. Every later use of
    * the query side (its broadcasts, the driver-side probe ranking and
    * LUT) then reads those rows instead of re-running the caller's plan.
    * The broadcast premise is unchanged: a broadcast pulls the same rows
    * to the driver. Returns the collected rows with their local relation.
    *
    * A local frame's rows are read from its plan: no job, and no
    * generated row decoder. Any other frame is read through
    * one partition that streams its input partitions in turn, so the
    * collect is one job that stops after `maxRows + 1` rows, where
    * Spark's take would scan one partition first and retry wider when
    * that one held too few rows.
    */
  def boundedLocal(df: DataFrame, maxRows: Long)(tooMany: => String): Local = {
    val n = math.min(maxRows + 1, Int.MaxValue.toLong).toInt
    val rows = df.limit(n).queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
        l.data.map(toRow(_).asInstanceOf[Row]).toArray
      case _ => df.coalesce(1).limit(n).collect()
    }
    require(rows.length <= maxRows, tooMany)
    Local(rows, localFrame(df.sparkSession, rows.toSeq, df.schema))
  }

  /** Rows on the driver together with the same rows as a local relation:
    * driver-side work reads `rows`, since collecting `df` again would
    * generate one more row decoder class.
    */
  final case class Local(rows: Array[Row], df: DataFrame)

  /** A ≤ |Q|·k top-k result sorted by (q_id, `rank`) in ONE partition:
    * no range partitioner, so no sampling job, and the plan stays lazy.
    */
  def sortedTopK(top: DataFrame, rank: String): DataFrame =
    top.repartition(1).sortWithinPartitions("q_id", rank)

  /** Driver-side rows as a local relation: the optimizer folds filters
    * and projections over it, and collecting it runs no job. A column no
    * row holds a null in is declared non-nullable, so the optimizer
    * infers no null filter over the rows — such a filter would be one
    * more generated class per schema.
    */
  def localFrame(s: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(schema.fields.zipWithIndex.map {
      case (f, i) => if (f.nullable && rows.forall(!_.isNullAt(i))) f.copy(nullable = false) else f
    }))

  /** A companion table's rows with its schema (an empty table has rows
    * that cannot carry it).
    */
  final case class Companion(schema: StructType, rows: Array[Row])

  /** Entries the companion memo keeps, least recently used dropped first. */
  private val MemoEntries = 128

  private type Key = (String, Seq[String])

  private val memo = new java.util.LinkedHashMap[Key, Companion](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Companion]): Boolean =
      size() > MemoEntries
  }

  /** The rows of a small companion table (text `_meta`/`_cal`, PQ
    * `_centroids`/`_codebook`/`_meta`), read once per FILE SET. The key
    * is the table's input files from its cached file index (no job, no
    * listing), not its name: a generation's companions change after it
    * is published — appends add `_meta` partials, recalibration rewrites
    * `_cal` and the PQ `_meta`, and `TablePointer.dropAll` restarts the
    * numbering at `g1` — and every such write lands new files. A read
    * sees exactly the files a plan over the table would scan.
    */
  def companionRows(s: SparkSession, table: String): Companion = {
    val df = s.table(table)
    val key: Key = (table, df.inputFiles.toSeq.sorted)
    memo.synchronized(Option(memo.get(key))).getOrElse {
      val c = Companion(df.schema, df.collect())
      memo.synchronized(memo.put(key, c))
      c
    }
  }
}
