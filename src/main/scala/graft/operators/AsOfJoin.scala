package graft.operators

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** As-of joins — an operator Spark lacks natively (SURVEY §2.6 joins
  * row): for each left row, attach the right side's match per key —
  * the LATEST right time <= the left time (backward), the EARLIEST
  * right time >= it (forward), or the closer of the two (nearest).
  *
  * The right side arrives RAW and is aggregated per (key, time) by the
  * caller's `aggs` on the join's own shuffle, so duplicate right rows at
  * one (key, time) collapse deterministically: `max(col)` keeps one
  * value per group, `max_by(col, ord)` picks the row maximizing a
  * tie-break.
  *
  * Implementation is the scalable union+running-window plan, not a range
  * join: tag both sides, union, then `last(value, ignoreNulls)` over a
  * running frame ordered by (time, tag). One shuffle on the key, linear
  * work per partition, no candidate-pair explosion — the plan you want
  * at 100 TB (a theta/range join would rescan right per left row; AQE
  * cannot save it).
  *
  * A matched group's values travel as ONE struct, so the window fill is
  * atomic: a group with NULLs in some value columns can never be "torn"
  * across two different right times.
  *
  * Every fill is a RUNNING frame (unboundedPreceding → currentRow):
  * Spark evaluates those incrementally, O(rows) per key group. The
  * forward fill gets its running frame from a descending time order,
  * never a FOLLOWING frame (Spark's UnboundedFollowingWindowFunctionFrame
  * re-aggregates the partition suffix per row — O(k²) on a hot key with
  * k rows).
  *
  * Aggregate contract: each agg must IGNORE NULLS over its right-side
  * input columns, because left rows that share a (key, time) group with
  * right rows enter the group window carrying nulls there; and it must
  * not depend on row order, because the group window orders only by the
  * left/right tag. `max`/`min`/`sum`/`avg`/`count(col)`/`max_by`
  * qualify; `first`/`last`/`collect_list` and `count(*)`/`count(lit)` do
  * not.
  *
  * Shared parameters:
  *   - `left`: left (probe) side; `rightRaw`: raw right (reference) side
  *   - `leftKey`/`rightKey`, `leftTime`/`rightTime`: join key and
  *     event-time columns (times temporal, or seconds castable to one)
  *   - `aggs`: (outputName, aggregateColumn) over `rightRaw`'s columns;
  *     output names must not clash with left columns
  *   - `inner`: true drops left rows with no match
  *   - `toleranceUs`: a match farther than this many microseconds from
  *     the left time counts as no match
  */
object AsOfJoin {

  /** Backward as-of join: the latest right (key, time) group at-or-before
    * the left time (a right time equal to the left time IS matched).
    * Semantically `rightRaw.groupBy(rightKey, rightTime).agg(aggs)`
    * joined as-of, planned as ONE Exchange and ONE Sort. Aggs must be
    * null-ignoring and order-insensitive (see the object doc).
    */
  def backwardAgg(
      left: DataFrame, rightRaw: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      aggs: Seq[(String, Column)],
      inner: Boolean = true,
      toleranceUs: Option[Long] = None): DataFrame =
    join(Backward, left, rightRaw, leftKey, rightKey, leftTime, rightTime, aggs, inner, toleranceUs)

  /** Forward as-of join: the earliest right (key, time) group at-or-after
    * the left time (a right time equal to the left time IS matched). The
    * traversal sorts on NEGATED microseconds (`__s`) so both windows stay
    * ascending-compatible: ONE Exchange and ONE Sort. Aggs must be
    * null-ignoring and order-insensitive (see the object doc).
    */
  def forwardAgg(
      left: DataFrame, rightRaw: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      aggs: Seq[(String, Column)],
      inner: Boolean = true,
      toleranceUs: Option[Long] = None): DataFrame =
    join(Forward, left, rightRaw, leftKey, rightKey, leftTime, rightTime, aggs, inner, toleranceUs)

  /** Nearest as-of join: the closer of the backward and forward matches;
    * an exact distance tie resolves BACKWARD, and a right time equal to
    * the left time is a zero-distance backward match. Distances compare
    * in integer microseconds — no float boundary wobble.
    *
    * One Exchange, two Sorts: the group window shares the backward fill's
    * sort; the forward fill pays a second, direction-mirrored in-partition
    * sort (no second exchange — both windows partition by the key). The
    * single-sort alternative needs a FOLLOWING frame whose O(k²)
    * re-aggregation collapses on hot keys. Aggs must be null-ignoring and
    * order-insensitive (see the object doc).
    */
  def nearestAgg(
      left: DataFrame, rightRaw: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      aggs: Seq[(String, Column)],
      inner: Boolean = true,
      toleranceUs: Option[Long] = None): DataFrame =
    join(Nearest, left, rightRaw, leftKey, rightKey, leftTime, rightTime, aggs, inner, toleranceUs)

  private sealed trait Direction
  private case object Backward extends Direction
  private case object Forward extends Direction
  private case object Nearest extends Direction

  /** Every internal column the operator writes; `__agg_<name>` holds
    * each agg before packing. Compared lower-case, as Spark resolves
    * names case-insensitively by default.
    */
  private val reserved = Set("__k", "__t", "__tag", "__rv", "__rt", "__s", "__b", "__f")
  private def isReserved(c: String): Boolean = {
    val lc = c.toLowerCase(Locale.ROOT)
    reserved.contains(lc) || lc.startsWith("__agg_")
  }

  private def us(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** The one as-of body. Raw right rows ride the single union Exchange
    * and the per-(key, time) aggregate runs as an unbounded-frame window
    * over (key, time) whose required sort order is EXACTLY the ascending
    * fill window's — so the aggregation costs no shuffle and no sort of
    * its own.
    */
  private def join(
      dir: Direction,
      left: DataFrame, rightRaw: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      aggs: Seq[(String, Column)],
      inner: Boolean,
      toleranceUs: Option[Long]): DataFrame = {
    val leftCols = left.columns.toSeq
    val valueNames = aggs.map(_._1)
    val unioned0 = tagAndUnionRaw(left, rightRaw, leftKey, rightKey, leftTime, rightTime,
      valueNames)
    // forward orders by negated micros: ascending __s is descending time,
    // and both of its windows stay on one ascending sort
    val (unioned, order) =
      if (dir == Forward) (unioned0.withColumn("__s", -us(col("__t"))), "__s")
      else (unioned0, "__t")
    // group window ordered by __tag: its required sort (k, order, tag) is
    // the ascending fill window's — one Sort serves both
    val wg = Window.partitionBy(col("__k"), col(order)).orderBy(col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // all aggs in ONE projection under internal names — a sequential
    // withColumn chain would let an agg's output name shadow a raw right
    // column that a LATER agg still reads
    val withRv = unioned
      .select(col("*") +: aggs.map { case (n, c) => c.over(wg).as(s"__agg_$n") }: _*)
      .withColumn("__rv", when(col("__tag") === 0,
        struct(col("__rt").as("asof_time") +:
          valueNames.map(n => col(s"__agg_$n").as(n)): _*)))
    def fill(orderBy: Column*): Column = last(col("__rv"), ignoreNulls = true)
      .over(Window.partitionBy("__k").orderBy(orderBy: _*)
        .rowsBetween(Window.unboundedPreceding, 0))
    // right tag 0 sorts BEFORE an equal-time left row (tag 1) ascending,
    // so an exact-time right group is matched
    val ascending = fill(col(order), col("__tag"))
    val filled = dir match {
      case Backward | Forward => withRv.withColumn("__rv", ascending)
      case Nearest =>
        // descending pass; right tag 0 sorts AFTER left tag 1 descending,
        // keeping an equal-time right group forward-invisible — it is
        // already the zero-distance backward match
        val fwd = fill(col("__t").desc, col("__tag").desc)
        withRv.withColumn("__b", ascending).withColumn("__f", fwd)
          .withColumn("__rv",
            when(col("__b").isNull, col("__f"))
              .when(col("__f").isNull, col("__b"))
              .when(us(col("__t")) - us(col("__b.asof_time")) <=
                us(col("__f.asof_time")) - us(col("__t")), col("__b"))
              .otherwise(col("__f")))
    }
    selectMatched(filled, leftCols, valueNames, inner, toleranceUs)
  }

  /** Union left (tag 1, full payload) with RAW right rows (tag 0): key,
    * time, the original right time (`__rt`, pre-coercion, for the
    * asof_time struct field) and every other right column, for the aggs
    * to read.
    */
  private def tagAndUnionRaw(
      left: DataFrame, rightRaw: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      valueNames: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(valueNames.forall(!leftCols.contains(_)),
      s"agg names ${valueNames.filter(leftCols.contains)} clash with left columns")
    require(!leftCols.contains("asof_time"), "left must not already have an asof_time column")
    require(!valueNames.contains("asof_time"), "asof_time is reserved for the matched right time")
    for ((side, cols) <- Seq("left" -> leftCols, "right" -> rightRaw.columns.toSeq))
      require(!cols.exists(isReserved),
        s"$side columns ${cols.filter(isReserved)} use reserved names " +
          s"(${reserved.toSeq.sorted.mkString(", ")}, __agg_*)")
    val rawCols = rightRaw.columns.toSeq.filterNot(c => c == rightKey || c == rightTime)
    require(rawCols.intersect(leftCols).isEmpty,
      s"right columns ${rawCols.intersect(leftCols)} clash with left columns " +
        "(project the right side first)")
    val l = left
      .withColumn("__k", col(leftKey)).withColumn("__t", col(leftTime))
      .withColumn("__tag", lit(1))
    val r = rightRaw.select(
      col(rightKey).as("__k") +: col(rightTime).as("__t") +: lit(0).as("__tag") +:
        col(rightTime).as("__rt") +: rawCols.map(col): _*)
    // pin the shuffle to __k HERE: left to EnsureRequirements, the group
    // window (clustering (__k, __t/__s)) would get a hashpartitioning on
    // BOTH keys and the fill window (clustering __k) would then re-shuffle
    // the whole union; hashpartitioning(__k) satisfies both windows, so
    // the explicit repartition is the join's only Exchange (no partition
    // count given — AQE coalescing stays free to size it)
    l.unionByName(r, allowMissingColumns = true).repartition(col("__k"))
  }

  /** Shared output tail: optional tolerance gate (a match farther than
    * `toleranceUs` microseconds from the left time counts as NO match —
    * the standard max-lookback/lookahead contract of time-series as-of
    * APIs; |distance| works unchanged for all three directions), then
    * inner-filter on the matched struct, keep only left rows, unpack
    * `__rv` next to the left payload.
    */
  private def selectMatched(filled0: DataFrame, leftCols: Seq[String],
      valueCols: Seq[String], inner: Boolean,
      toleranceUs: Option[Long]): DataFrame = {
    val filled = toleranceUs match {
      case None => filled0
      case Some(tol) => filled0.withColumn("__rv",
        when(col("__rv").isNotNull &&
          abs(us(col("__t")) - us(col("__rv.asof_time"))) <= tol, col("__rv")))
    }
    val matchedOnly = if (inner) filled.filter(col("__rv").isNotNull) else filled
    matchedOnly.filter(col("__tag") === 1)
      .select(leftCols.map(col) ++
        (col("__rv.asof_time").as("asof_time") +:
          valueCols.map(c => col(s"__rv.$c").as(c))): _*)
  }
}
