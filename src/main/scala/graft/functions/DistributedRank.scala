package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Ckpt._

/** Gated running sums for windows whose PARTITION BY has too few values
  * to parallelize (none at all, or a handful of priorities/segments/
  * sources over a corpus-scale frame).
  *
  * Spark plans such a window as one sort task per partition value — the
  * whole corpus (or 1/|values| of it) moves to a single task
  * ("WindowExec: No Partition Defined" / the q124-class; invisible at
  * sf0.1, fatal at 100 TB). Every query of that class states its window
  * ONCE, over the `cum_<w>` / `total_<w>` columns of [[runningSums]],
  * and the helper picks the physical form:
  *
  *  - '''single task''' (frame within the gate): one window partitioned
  *    by the partition columns — no publish, no collect, no extra job;
  *  - '''distributed''' (past the gate): the classic two-pass rank —
  *    1. bucket every row by a DETERMINISTIC, data-independent, monotone
  *       function of its sort value ([[bucket]] — the IEEE-754
  *       total-order bit prefix, ≤ 2¹⁶ buckets whose numeric order is
  *       the value order; no RangePartitioner sampling job);
  *    2. one small aggregate (partition, bucket) → weight subtotals
  *       collects to the driver (≤ |parts|·2¹⁶ rows — the
  *       bounded-literal contract) and prefix-sums into per-bucket
  *       offsets plus per-partition totals;
  *    3. running sums then need only a window PARTITIONED BY
  *       (partition, bucket) — thousands of concurrent partitions —
  *       plus the broadcast offset.
  *
  * Worst-case bucket SKEW is a value-tie pathology (every row the same
  * sort value), which is exactly the case the original window could
  * not parallelize either.
  *
  * THE GATE ([[fitsSingleTask]], the one reader of [[GateConf]]) prices
  * the frame itself: the summed `stats.sizeInBytes` of the distinct leaf
  * relations of its analyzed plan — for a parquet scan, the byte total
  * its file index already listed. Within the gate (default 256 MB) the
  * single-task window is strictly cheaper: a sort of ≤ a few million
  * rows in one task is sub-second, while the distributed form pays 2-3
  * scheduled jobs plus a driver round-trip (~0.5-1 s of fixed latency
  * at any scale). Past it the single sort task IS the query's wall
  * clock and grows without bound while the distributed form stays flat
  * per core. Both forms produce identical rows (DistributedRankSpec
  * pins every gated query at both gate settings), and the gate is a
  * session conf so a deployment can pin either path.
  */
object DistributedRank {
  /** Session conf: max priced bytes of a frame for which the single-task
    * form is used. The 256 MB default is sized from measurement, not the
    * cluster: a ≤ 256 MB parquet slice is ≤ ~3M rows of the shapes
    * involved, whose one-task sort costs well under a second — below the
    * 2-3-job scheduling floor the distributed form pays at ANY scale.
    * Set 0 to force the distributed path everywhere (plan dumps, scale
    * tests).
    */
  val GateConf = "spark.graft.singleTaskWindowMaxBytes"
  val DefaultGateBytes: Long = 256L << 20

  /** True iff `df` prices within the gate: the summed size estimate of
    * the distinct leaf relations its analyzed plan reads (a relation
    * read twice counts once).
    */
  def fitsSingleTask(df: DataFrame): Boolean = {
    val bytes = PlanBridge.analyzed(df).collectLeaves()
      .map(_.canonicalized).distinct.map(_.stats.sizeInBytes).sum
    bytes <= df.sparkSession.conf.getOption(GateConf).map(BigInt(_))
      .getOrElse(BigInt(DefaultGateBytes))
  }

  /** `df` plus, per weight column `w`, the inclusive running sum
    * `cum_<w>` over `order` within the partition (RANGE frame: order
    * ties share one value) and the partition total `total_<w>`, both
    * LONG. `bucketOn` must be non-null and non-decreasing along `order`
    * (its leading key, or that key negated for a descending order) so
    * order ties never split across buckets. Weights are integers; a
    * null weight counts as 0. Within the gate this is one window; past
    * it, the bucket-offset form described on the object.
    */
  def runningSums(df: DataFrame, parts: Seq[String], order: Seq[Column],
      bucketOn: Column, weights: String*): DataFrame = {
    def w(c: String): Column = sum(coalesce(col(c).cast("long"), lit(0L)))
    if (fitsSingleTask(df)) {
      val run = Window.partitionBy(parts.map(col): _*).orderBy(order: _*)
      val all = run.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      df.select(col("*") +: weights.flatMap(c =>
        Seq(w(c).over(run).as(s"cum_$c"), w(c).over(all).as(s"total_$c"))): _*)
    } else {
      val bucketed = df.withColumn("__bkt", bucket(bucketOn))
        .ckpt() // two consumers: the offsets collect and the in-bucket pass
      val keys = parts :+ "__bkt"
      val offsets = bucketOffsets(bucketed.groupBy(keys.map(col): _*)
        .agg(w(weights.head), weights.tail.map(w): _*))
      val off = offsets.toDF(offsets.columns.map("__o" + _): _*)
      val inBucket = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      val joined = bucketed.join(broadcast(off),
        keys.map(k => bucketed(k) <=> off("__o" + k)).reduce(_ && _))
      joined.select(df.columns.map(col) ++
        weights.zipWithIndex.flatMap { case (c, i) =>
          Seq((w(c).over(inBucket) + col(s"__o__off$i")).as(s"cum_$c"),
            col(s"__o__tot$i").as(s"total_$c"))
        }: _*)
    }
  }

  /** End rank R_b of ntile bucket `b` of `k` over `n` rows: every bucket
    * holds n div k rows and the first n % k one more, so
    * R_b = b·(n div k) + min(b, n % k) (R_0 = 0, R_k = n). A row of rank
    * r lands in ntile bucket 1 + |{b < k : R_b < r}|.
    */
  def ntileEnd(n: Column, k: Int, b: Column): Column =
    b * call_function("div", n, lit(k.toLong)) + least(b, n % lit(k.toLong))

  /** `ntile(k)` of the row at 1-based `rank` among `n` rows, as LONG
    * column arithmetic: 1 + |{b < k : R_b < rank}|.
    */
  def ntile(rank: Column, n: Column, k: Int): Column =
    (1 until k).foldLeft(lit(1L)) { (bin, b) =>
      bin + when(ntileEnd(n, k, lit(b.toLong)) < rank, 1L).otherwise(0L) }

  /** Deterministic monotone bucket of a numeric sort value: the top 16
    * bits of the IEEE total-order key of the value as a double. The
    * `+ 0.0` folds -0.0 onto +0.0 so values the window's sort treats as
    * equal never split across buckets. Longs above 2⁵³ collapse ties
    * into shared buckets (long→double rounding is monotone) — harmless,
    * the in-bucket sort still uses the exact column.
    */
  def bucket(sortValue: Column): Column =
    shiftrightunsigned(
      // orderBits is SIGNED-monotone; flipping the sign bit makes it
      // UNSIGNED-monotone so the unsigned shift yields buckets whose
      // plain long order is the value order (0..65535)
      graft.plans.FloatVectorExpressions.orderBitsCol(
        sortValue.cast("double") + lit(0.0))
        .bitwiseXOR(lit(Long.MinValue)),
      48)

  /** Collect per-(parts…, bucket) weight subtotals — `cells` columns are
    * the partition keys, `__bkt` LONG, then one LONG sum per weight — and
    * return, per cell, the keys plus `__off<i>` (weight i in SMALLER
    * buckets of the same partition) and `__tot<i>` (the partition's
    * total weight i).
    */
  private def bucketOffsets(cells: DataFrame): DataFrame = {
    val nKeys = cells.columns.indexOf("__bkt")
    val nW = cells.columns.length - nKeys - 1
    val out = cells.collect().groupBy(r => (0 until nKeys).map(r.get)).values
      .flatMap { cs =>
        val acc = new Array[Long](nW)
        val withOff = cs.sortBy(_.getLong(nKeys)).map { r =>
          val off = acc.clone()
          for (i <- 0 until nW) acc(i) += r.getLong(nKeys + 1 + i)
          (r, off)
        }
        withOff.map { case (r, off) =>
          Row.fromSeq((0 to nKeys).map(r.get) ++ off ++ acc) }
      }
    val longs = (p: String) => (0 until nW).map(i => StructField(s"$p$i", LongType))
    val schema = StructType(cells.schema.fields.take(nKeys + 1) ++
      longs("__off") ++ longs("__tot"))
    cells.sparkSession.createDataFrame(
      java.util.Arrays.asList(out.toSeq: _*), schema)
  }
}
