package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout: interleave the bits of two clustering
  * dimensions so that range predicates on EITHER dimension map to a small
  * number of contiguous z-ranges — the standard multi-dimensional layout
  * for parquet/Delta-style min-max pruning at 100 TB (a table laid out by
  * one column prunes only on that column; z-order prunes on both).
  *
  * The z-value is a pure column expression (32 shift/mask terms — all
  * inside whole-stage codegen); the layout step is
  * `repartitionByRange(zval) + sortWithinPartitions(zval)`, so every
  * output file covers a tight z-interval and its parquet footer min/max on
  * BOTH source columns stays narrow.
  */
object ZOrder extends graft.GateModule {

  private val Bits = 16

  /** Bit-interleave of two [`Bits`]-bit non-negative ints: a's bit i lands
    * at position 2i, b's at 2i+1.
    */
  private def interleaveExpr(a: String, b: String): String =
    (0 until Bits).map(i =>
      s"(shiftleft(shiftright($a, $i) & 1, ${2 * i}) + " +
        s"shiftleft(shiftright($b, $i) & 1, ${2 * i + 1}))")
      .mkString(" + ")

  private def interleaveSql(a: String, b: String): String =
    (0 until Bits).map(i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** Orders keyed by (customer, order-day) with their z-value. */
  private def withZ(orders: DataFrame): DataFrame =
    orders
      .withColumn("ck", col("o_custkey") % 65536)
      .withColumn("d",
        datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
          .cast("bigint") % 65536)
      .withColumn("zval", expr(interleaveExpr("ck", "d")))

  /** Gate query: the z-values of a deterministic order sample — proves the
    * interleave arithmetic bit-for-bit against the oracle.
    */
  def zorderLayout(s: SparkSession, dir: String): DataFrame =
    withZ(Tables.orders(s, dir))
      .filter(col("o_orderkey") % 37 === 0)
      .select(col("o_orderkey"), col("ck"), col("d"), col("zval"))
      .orderBy("o_orderkey")

  val zorderLayoutSql: String = s"""
    WITH t AS (
      SELECT o_orderkey, o_custkey % 65536 AS ck,
        date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 65536
          AS d
      FROM orders)
    SELECT o_orderkey, ck, d, ${interleaveSql("ck", "d")} AS zval
    FROM t WHERE o_orderkey % 37 = 0
    ORDER BY o_orderkey"""

  /** The layout operator itself: range-partition by z-value and sort
    * within partitions, so file-level min/max stats on both dimensions
    * prune. `n` is the target file count.
    */
  def zOrderedLayout(orders: DataFrame, n: Int): DataFrame =
    withZ(orders).repartitionByRange(n, col("zval"))
      .sortWithinPartitions(col("zval"))

  // ------------------------------------------------------ n-dim interleave

  /** Generalized Morton interleave over any number of dimensions: bit i of
    * dimension j lands at position `i·ndims + j`. With `bits` bits per
    * dimension the code needs `bits·ndims ≤ 63` — 3×16 fits a BIGINT. Still
    * a pure column expression (bits·ndims shift/mask terms, codegen'd).
    */
  private[graft] def interleaveNExpr(cols: Seq[String], bits: Int = Bits): String =
    (for { i <- 0 until bits; (c, j) <- cols.zipWithIndex } yield
      s"shiftleft(shiftright($c, $i) & 1, ${i * cols.length + j})")
      .mkString(" + ")

  private def interleaveNSql(cols: Seq[String], bits: Int = Bits): String =
    (for { i <- 0 until bits; (c, j) <- cols.zipWithIndex } yield
      s"((($c >> $i) & 1) << ${i * cols.length + j})")
      .mkString(" + ")

  private val StatusOrd =
    "CASE o_orderstatus WHEN 'F' THEN 0 WHEN 'O' THEN 1 ELSE 2 END"

  /** 3-dim z-value over (customer, order-day, status): range predicates on
    * ANY of the three dimensions prune the laid-out files. Same sampled
    * bit-for-bit gate as the 2-dim path.
    */
  def zorder3Layout(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("ck", col("o_custkey") % 65536)
      .withColumn("d",
        datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
          .cast("bigint") % 65536)
      .withColumn("st", expr(StatusOrd).cast("bigint"))
      .withColumn("zval3", expr(interleaveNExpr(Seq("ck", "d", "st"))))
      .filter(col("o_orderkey") % 37 === 0)
      .select(col("o_orderkey"), col("ck"), col("d"), col("st"), col("zval3"))
      .orderBy("o_orderkey")

  val zorder3LayoutSql: String = s"""
    WITH t AS (
      SELECT o_orderkey, o_custkey % 65536 AS ck,
        date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 65536
          AS d,
        CAST($StatusOrd AS BIGINT) AS st
      FROM orders)
    SELECT o_orderkey, ck, d, st,
      ${interleaveNSql(Seq("ck", "d", "st"))} AS zval3
    FROM t WHERE o_orderkey % 37 = 0
    ORDER BY o_orderkey"""

  // ----------------------------------------------------------- Hilbert curve

  private val HBits = 8 // bits per dimension (grid 256×256)

  /** Unrolled Hilbert xy→d state machine (the classic quadrant-rotation
    * iteration): one step per bit from the top, each step adds the
    * quadrant's contribution s²·(3·rx ⊕ ry) and rotates/flips the
    * coordinates into the sub-square. The XOR over bits is written as the
    * branch-free arithmetic `3·rx + ry·(1−2·rx)` so both engines evaluate
    * identical integer expressions (DuckDB's `^` is exponentiation, not
    * XOR). Properties (bijectivity over the grid and unit-step adjacency
    * of consecutive indexes — what makes Hilbert strictly better than
    * Z-order for range locality) are spec-proved over a full small grid.
    */
  private def hilbertSteps(bits: Int): Seq[Long] =
    (bits - 1 to 0 by -1).map(k => 1L << k)

  /** Spark: fold the step chain over (x, y, h) columns. */
  private[graft] def withHilbert(df: DataFrame, xCol: String,
                                     yCol: String, bits: Int): DataFrame = {
    val init = df.withColumn("hx", col(xCol).cast("bigint"))
      .withColumn("hy", col(yCol).cast("bigint"))
      .withColumn("hval", lit(0L))
    hilbertSteps(bits).foldLeft(init) { (d, sv) =>
      d.withColumn("rx", expr(s"CASE WHEN (hx & $sv) > 0 THEN 1L ELSE 0L END"))
        .withColumn("ry", expr(s"CASE WHEN (hy & $sv) > 0 THEN 1L ELSE 0L END"))
        .withColumn("hval",
          expr(s"hval + $sv * $sv * (3 * rx + ry * (1 - 2 * rx))"))
        .withColumn("nx", expr(
          s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN $sv - 1 - hy ELSE hy END) ELSE hx END"))
        .withColumn("ny", expr(
          s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN $sv - 1 - hx ELSE hx END) ELSE hy END"))
        .withColumn("hx", col("nx")).withColumn("hy", col("ny"))
        .drop("nx", "ny")
    }.drop("rx", "ry", "hx", "hy")
  }

  /** DuckDB: the same chain as one CTE per step. `src` must provide
    * columns (`key`, `hx`, `hy`). Ends in `hstep0(key, hx, hy, hval)`.
    */
  private def hilbertSql(bits: Int): String =
    hilbertSteps(bits).zipWithIndex.map { case (sv, i) =>
      val prev = if (i == 0) "hsrc" else s"hstep${bits - i}"
      s"""
    hstep${bits - 1 - i} AS (
      SELECT key,
        CASE WHEN ((hy & $sv) > 0) OR NOT ((hx & $sv) > 0) THEN
          (CASE WHEN (hy & $sv) > 0 THEN hx ELSE hy END)
        ELSE $sv - 1 - hy END AS hx,
        CASE WHEN (hy & $sv) > 0 THEN hy
             WHEN (hx & $sv) > 0 THEN $sv - 1 - hx
             ELSE hx END AS hy,
        hval + $sv * $sv *
          (3 * (CASE WHEN (hx & $sv) > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN (hy & $sv) > 0 THEN 1 ELSE 0 END)
             * (1 - 2 * (CASE WHEN (hx & $sv) > 0 THEN 1 ELSE 0 END)))
          AS hval
      FROM $prev)"""
    }.mkString(",")

  /** Gate: Hilbert indexes of the sampled (customer, order-day) grid —
    * the locality-preserving alternative to [[zorderLayout]] (Hilbert has
    * no Z-order "seams": consecutive indexes are always grid neighbours,
    * so every file in a range-partitioned layout covers one connected
    * region — tighter min/max footers on both dimensions).
    */
  def hilbertLayout(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .withColumn("ck", col("o_custkey") % 256)
      .withColumn("dy",
        datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
          .cast("bigint") % 256)
    withHilbert(base, "ck", "dy", HBits)
      .filter(col("o_orderkey") % 37 === 0)
      .select(col("o_orderkey"), col("ck"), col("dy"), col("hval"))
      .orderBy("o_orderkey")
  }

  /** The Hilbert layout WRITER — the file-producing counterpart of
    * [[zOrderedLayout]] that [[layoutLocality]]'s measurement argues for:
    * range-partition on the Hilbert index and sort within partitions, so
    * each output file covers one contiguous `hval` interval — and because
    * consecutive Hilbert indexes are always grid neighbours, one CONNECTED
    * region of the (customer, order-day) grid: tighter parquet min/max
    * footers on both dimensions than the same files under Z-order (whose
    * seams jump across the grid). `n` is the target file count.
    */
  def hilbertOrderedLayout(orders: DataFrame, n: Int): DataFrame = {
    val base = orders
      .withColumn("ck", col("o_custkey") % 256)
      .withColumn("dy",
        datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
          .cast("bigint") % 256)
    withHilbert(base, "ck", "dy", HBits)
      .repartitionByRange(n, col("hval"))
      .sortWithinPartitions(col("hval"))
  }

  val hilbertLayoutSql: String = s"""
    WITH hsrc AS (
      SELECT o_orderkey AS key, o_custkey % 256 AS hx,
        date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256
          AS hy,
        CAST(0 AS BIGINT) AS hval
      FROM orders),
    ${hilbertSql(HBits)},
    base AS (
      SELECT o_orderkey, o_custkey % 256 AS ck,
        date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256
          AS dy
      FROM orders)
    SELECT b.o_orderkey, b.ck, b.dy, h.hval
    FROM base b JOIN hstep0 h ON b.o_orderkey = h.key
    WHERE b.o_orderkey % 37 = 0
    ORDER BY b.o_orderkey"""

  // -------------------------------------------------------- locality audit

  /** Bucket width — deliberately NOT a power of two: aligned power-of-four
    * buckets are complete quadrants on BOTH curves (identical perfect
    * boxes), but real file boundaries come from row counts, not index
    * alignment; an unaligned width makes buckets straddle quadrant seams,
    * which is exactly where Z-order jumps across the grid and Hilbert
    * doesn't.
    */
  private val LocBucket = 1000L

  /** Layout locality audit: range-partition BOTH curves' indexes into 64
    * equal buckets (what `repartitionByRange` + one file per partition
    * produces) and measure each bucket's bounding box over the two source
    * dimensions — `(max−min+1)` per dimension, summed. Smaller boxes mean
    * tighter parquet min/max footers and better pruning; Hilbert's
    * unit-step adjacency keeps every bucket a connected region, while
    * Z-order's seams periodically jump across the grid, inflating the
    * box. The gate emits both layouts' average and worst boxes from the
    * same rows — the measured justification for choosing Hilbert, not a
    * design argument. Two map-side aggregations; nothing scales with more
    * than the bucket count.
    */
  def layoutLocality(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .withColumn("ck", col("o_custkey") % 256)
      .withColumn("dy",
        datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
          .cast("bigint") % 256)
    val hv = withHilbert(base, "ck", "dy", HBits)
      .withColumn("zval", expr(interleaveNExpr(Seq("ck", "dy"), HBits)))
    // ONE scan: the fold/interleave chain evaluates once per row, each row
    // fans out into its (layout, bucket) pair for both curves, and a single
    // two-level aggregation produces both layouts' extents — the
    // build-twice/scan-twice shape this replaced evaluated the Hilbert
    // state machine once per layout
    hv.select(explode(array(
        struct(lit("hilbert").as("layout"),
          expr(s"hval div $LocBucket").as("b"), col("ck"), col("dy")),
        struct(lit("zorder").as("layout"),
          expr(s"zval div $LocBucket").as("b"), col("ck"), col("dy"))))
        .as("r"))
      .select(col("r.layout").as("layout"), col("r.b").as("b"),
        col("r.ck").as("ck"), col("r.dy").as("dy"))
      .groupBy(col("layout"), col("b"))
      .agg((max(col("ck")) - min(col("ck")) + 1 +
        (max(col("dy")) - min(col("dy")) + 1)).as("ext"))
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_buckets"),
        round(avg(col("ext")), 4).as("avg_extent"),
        max(col("ext")).as("max_extent"))
      .orderBy("layout")
  }

  val layoutLocalitySql: String = s"""
    WITH hsrc AS (
      SELECT o_orderkey AS key, o_custkey % 256 AS hx,
        date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256
          AS hy,
        CAST(0 AS BIGINT) AS hval
      FROM orders),
    ${hilbertSql(HBits)},
    base AS (
      SELECT o_orderkey, o_custkey % 256 AS ck,
        date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256
          AS dy
      FROM orders),
    rows_ AS (
      SELECT b.ck, b.dy, h.hval,
        ${interleaveNSql(Seq("ck", "dy"), HBits)} AS zval
      FROM base b JOIN hstep0 h ON b.o_orderkey = h.key),
    hb AS (
      SELECT hval // $LocBucket AS b,
        (max(ck) - min(ck) + 1) + (max(dy) - min(dy) + 1) AS ext
      FROM rows_ GROUP BY 1),
    zb AS (
      SELECT zval // $LocBucket AS b,
        (max(ck) - min(ck) + 1) + (max(dy) - min(dy) + 1) AS ext
      FROM rows_ GROUP BY 1),
    outp AS (
      SELECT 'hilbert' AS layout, count(*) AS n_buckets,
        round(avg(ext), 4) AS avg_extent, max(ext) AS max_extent FROM hb
      UNION ALL
      SELECT 'zorder', count(*), round(avg(ext), 4), max(ext) FROM zb)
    SELECT layout, n_buckets, avg_extent, max_extent
    FROM outp ORDER BY layout"""

  // --------------------------------------------------------- pruning audit

  /** Probe bands: 16-value ranges tiling each source dimension. */
  private val BandW = 16

  /** Scan-pruning audit — the measurement [[layoutLocality]]'s box extents
    * argue toward, made literal: range-partition both curves' indexes into
    * the same unaligned buckets (the files a `repartitionByRange` writer
    * produces), take each bucket's min/max on BOTH source dimensions (its
    * parquet footer stats), and for a tiling set of range predicates count
    * the files whose [min,max] intersects the predicate — the files a
    * stats-pruning scan MUST read. Emits per (layout, dimension): query
    * count and avg/max/min files read. Hilbert's connected buckets read
    * fewer files than Z-order's seam-crossing ones on BOTH dimensions
    * (spec-pinned). Everything aggregates to the bucket count first —
    * the predicate join touches 66 stat rows × 32 probes, never data.
    */
  def layoutPruning(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .withColumn("ck", col("o_custkey") % 256)
      .withColumn("dy",
        datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
          .cast("bigint") % 256)
    val hv = withHilbert(base, "ck", "dy", HBits)
      .withColumn("zval", expr(interleaveNExpr(Seq("ck", "dy"), HBits)))
    val stats = hv.select(explode(array(
        struct(lit("hilbert").as("layout"),
          expr(s"hval div $LocBucket").as("b"), col("ck"), col("dy")),
        struct(lit("zorder").as("layout"),
          expr(s"zval div $LocBucket").as("b"), col("ck"), col("dy"))))
        .as("r"))
      .select(col("r.layout").as("layout"), col("r.b").as("b"),
        col("r.ck").as("ck"), col("r.dy").as("dy"))
      .groupBy(col("layout"), col("b"))
      .agg(min(col("ck")).as("ck_lo"), max(col("ck")).as("ck_hi"),
        min(col("dy")).as("dy_lo"), max(col("dy")).as("dy_hi"))
    val qs = s.range(256 / BandW)
      .select(explode(array(lit("ck"), lit("dy"))).as("dim"),
        (col("id") * BandW).as("lo"), (col("id") * BandW + (BandW - 1)).as("hi"))
    val mustRead = when(col("dim") === "ck",
      col("ck_hi") >= col("lo") && col("ck_lo") <= col("hi"))
      .otherwise(col("dy_hi") >= col("lo") && col("dy_lo") <= col("hi"))
    stats.crossJoin(broadcast(qs))
      .select(col("layout"), col("dim"), col("lo"),
        when(mustRead, 1L).otherwise(0L).as("must_read"))
      .groupBy(col("layout"), col("dim"), col("lo"))
      .agg(sum(col("must_read")).as("files_read"))
      .groupBy(col("layout"), col("dim"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg(col("files_read")), 4).as("avg_files_read"),
        max(col("files_read")).as("max_files_read"),
        min(col("files_read")).as("min_files_read"))
      .orderBy("layout", "dim")
  }

  val layoutPruningSql: String = s"""
    WITH hsrc AS (
      SELECT o_orderkey AS key, o_custkey % 256 AS hx,
        date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256
          AS hy,
        CAST(0 AS BIGINT) AS hval
      FROM orders),
    ${hilbertSql(HBits)},
    base AS (
      SELECT o_orderkey, o_custkey % 256 AS ck,
        date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256
          AS dy
      FROM orders),
    rows_ AS (
      SELECT b.ck, b.dy, h.hval,
        ${interleaveNSql(Seq("ck", "dy"), HBits)} AS zval
      FROM base b JOIN hstep0 h ON b.o_orderkey = h.key),
    stats AS (
      SELECT 'hilbert' AS layout, hval // $LocBucket AS b,
        min(ck) AS ck_lo, max(ck) AS ck_hi,
        min(dy) AS dy_lo, max(dy) AS dy_hi
      FROM rows_ GROUP BY 2
      UNION ALL
      SELECT 'zorder', zval // $LocBucket, min(ck), max(ck), min(dy), max(dy)
      FROM rows_ GROUP BY 2),
    qs AS (
      SELECT 'ck' AS dim, q * $BandW AS lo, q * $BandW + ${BandW - 1} AS hi
      FROM (SELECT unnest(generate_series(0, ${256 / BandW - 1})) AS q)
      UNION ALL
      SELECT 'dy', q * $BandW, q * $BandW + ${BandW - 1}
      FROM (SELECT unnest(generate_series(0, ${256 / BandW - 1})) AS q)),
    perq AS (
      SELECT s.layout, q.dim, q.lo,
        CAST(sum(CASE WHEN q.dim = 'ck'
          THEN CASE WHEN s.ck_hi >= q.lo AND s.ck_lo <= q.hi
               THEN 1 ELSE 0 END
          ELSE CASE WHEN s.dy_hi >= q.lo AND s.dy_lo <= q.hi
               THEN 1 ELSE 0 END END) AS BIGINT) AS files_read
      FROM stats s CROSS JOIN qs q GROUP BY 1, 2, 3)
    SELECT layout, dim, count(*) AS n_queries,
      round(avg(files_read), 4) AS avg_files_read,
      CAST(max(files_read) AS BIGINT) AS max_files_read,
      CAST(min(files_read) AS BIGINT) AS min_files_read
    FROM perq GROUP BY 1, 2 ORDER BY layout, dim"""

  // ------------------------------------------------- text-store pruning audit

  /** Equal-count files the text-layout audit splits each layout into. */
  private val TxFiles = 25

  /** Gate: the [[layoutPruning]] min/max scan-pruning methodology applied
    * to the DOCUMENTS store — the pruning story for the 100 TB text side.
    * Three physical layouts of the same corpus, each split into
    * [[TxFiles]] equal-count files (what a `repartitionByRange` writer
    * on the layout's sort key produces), each file carrying its parquet
    * footer min/max on both predicate dimensions: source index and
    * quality bucket (10^5-quantized [[TextOps.qualityDf]] — integer by
    * the round(·,6) contract):
    *
    *  - `crawl`   — ingest order (doc_id): the layout you get for free.
    *  - `sorted`  — ORDER BY (source, quality, doc_id): the
    *                source-partitioned release layout.
    *  - `qsorted` — ORDER BY (quality, source, doc_id): the
    *                quality-first annealing layout.
    *
    * For a tiling probe set (every source value, every quality bucket)
    * the audit counts the files whose [min,max] intersects the
    * predicate — what a stats-pruning scan MUST read. The measured
    * lesson the spec pins: each sort's PRIMARY dimension prunes to the
    * per-value file span while its SECONDARY dimension barely prunes at
    * all (quality is i.i.d. within a source, so 20-way source
    * stratification leaves every file covering most quality buckets —
    * the classic lexicographic-sort trap [[layoutLocality]]'s curves
    * exist to beat), and crawl order prunes source queries not one bit.
    * Sort your store by the dominant predicate, or interleave.
    *
    * Scale: ranks come from [[DistRank.rowNumber]] (two-phase boundary
    * broadcast — no global sort even in the audit); everything after
    * aggregates to 3·[[TxFiles]] stat rows before the ≤ 31-probe
    * crossJoin — the joins never touch data.
    */
  def textLayoutPruning(s: SparkSession, dir: String): DataFrame = {
    val q = TextOps.qualityDf(s, dir)
      .select(col("doc_id"),
        expr("cast(round(quality * 1000000) as bigint) div 100000").as("qb"))
    // materialize the base and the two intermediate rank frames: each
    // chained DistRank pass reads its input THREE times (boundary
    // sample, slice totals, the ranked window), so left lazy the quality
    // chain re-executed ~3× per pass, compounding to ~27× by the third
    // rank (the customer_rfm lesson)
    def leaf(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val base = leaf(Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("cast(substring(source, 4) as bigint)").as("sidx"))
      .join(q, "doc_id")
      .withColumn("__all", lit(0L)))
    val rs = leaf(DistRank.rowNumber(base, "__all",
      Seq(col("sidx"), col("qb"), col("doc_id")), "doc_id", "rs"))
    val rq = leaf(DistRank.rowNumber(rs, "__all",
      Seq(col("qb"), col("sidx"), col("doc_id")), "doc_id", "rq"))
    val rc = DistRank.rowNumber(rq, "__all",
      Seq(col("doc_id")), "doc_id", "rc")
    val tot = base.agg(count(lit(1)).as("n"))
    val stats = rc.crossJoin(broadcast(tot))
      .select(explode(array(
        struct(lit("sorted").as("layout"),
          expr(s"((rs - 1) * $TxFiles) div n").as("f"),
          col("sidx"), col("qb")),
        struct(lit("qsorted").as("layout"),
          expr(s"((rq - 1) * $TxFiles) div n").as("f"),
          col("sidx"), col("qb")),
        struct(lit("crawl").as("layout"),
          expr(s"((rc - 1) * $TxFiles) div n").as("f"),
          col("sidx"), col("qb")))).as("r"))
      .select(col("r.layout").as("layout"), col("r.f").as("f"),
        col("r.sidx").as("sidx"), col("r.qb").as("qb"))
      .groupBy(col("layout"), col("f"))
      .agg(min(col("sidx")).as("s_lo"), max(col("sidx")).as("s_hi"),
        min(col("qb")).as("q_lo"), max(col("qb")).as("q_hi"))
    val probes = s.range(20)
      .select(lit("source").as("dim"), col("id").as("v"))
      .unionByName(s.range(11)
        .select(lit("quality").as("dim"), col("id").as("v")))
    val mustRead = when(col("dim") === "source",
      col("s_hi") >= col("v") && col("s_lo") <= col("v"))
      .otherwise(col("q_hi") >= col("v") && col("q_lo") <= col("v"))
    stats.crossJoin(broadcast(probes))
      .select(col("layout"), col("dim"), col("v"),
        when(mustRead, 1L).otherwise(0L).as("must_read"))
      .groupBy(col("layout"), col("dim"), col("v"))
      .agg(sum(col("must_read")).as("files_read"))
      .groupBy(col("layout"), col("dim"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg(col("files_read")), 4).as("avg_files_read"),
        max(col("files_read")).as("max_files_read"),
        min(col("files_read")).as("min_files_read"))
      .orderBy("layout", "dim")
  }

  val textLayoutPruningSql: String = s"""
    WITH ${TextOps.docQualityCteSql.trim},
    tlb AS (SELECT d.doc_id, CAST(substring(d.source, 4) AS BIGINT) AS sidx,
             CAST(round(q.quality * 1000000) AS BIGINT) // 100000 AS qb
           FROM documents d JOIN dq q USING (doc_id)),
    tln AS (SELECT count(*) AS n FROM tlb),
    tlr AS (SELECT doc_id, sidx, qb,
             row_number() OVER (ORDER BY sidx, qb, doc_id) AS rs,
             row_number() OVER (ORDER BY qb, sidx, doc_id) AS rq,
             row_number() OVER (ORDER BY doc_id) AS rc
           FROM tlb),
    tlf AS (
      SELECT 'sorted' AS layout, ((rs - 1) * $TxFiles) // n AS f, sidx, qb
      FROM tlr, tln
      UNION ALL
      SELECT 'qsorted', ((rq - 1) * $TxFiles) // n, sidx, qb FROM tlr, tln
      UNION ALL
      SELECT 'crawl', ((rc - 1) * $TxFiles) // n, sidx, qb FROM tlr, tln),
    tls AS (SELECT layout, f, min(sidx) AS s_lo, max(sidx) AS s_hi,
              min(qb) AS q_lo, max(qb) AS q_hi
            FROM tlf GROUP BY 1, 2),
    tlq AS (
      SELECT 'source' AS dim, CAST(unnest(generate_series(0, 19)) AS BIGINT)
        AS v
      UNION ALL
      SELECT 'quality', CAST(unnest(generate_series(0, 10)) AS BIGINT)),
    tlp AS (
      SELECT s.layout, q.dim, q.v,
        CAST(sum(CASE WHEN q.dim = 'source'
          THEN CASE WHEN s.s_hi >= q.v AND s.s_lo <= q.v THEN 1 ELSE 0 END
          ELSE CASE WHEN s.q_hi >= q.v AND s.q_lo <= q.v THEN 1 ELSE 0 END
          END) AS BIGINT) AS files_read
      FROM tls s CROSS JOIN tlq q GROUP BY 1, 2, 3)
    SELECT layout, dim, count(*) AS n_queries,
      round(avg(files_read), 4) AS avg_files_read,
      CAST(max(files_read) AS BIGINT) AS max_files_read,
      CAST(min(files_read) AS BIGINT) AS min_files_read
    FROM tlp GROUP BY 1, 2 ORDER BY layout, dim"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_layout_pruning" -> (textLayoutPruning _),
    "zorder_layout" -> (zorderLayout(_, _)),
    "zorder3_layout" -> (zorder3Layout(_, _)),
    "hilbert_layout" -> (hilbertLayout _),
    "layout_locality" -> (layoutLocality _),
    "layout_pruning" -> (layoutPruning _))

  val oracles: Map[String, String] = Map(
    "text_layout_pruning" -> textLayoutPruningSql,
    "zorder_layout" -> zorderLayoutSql,
    "zorder3_layout" -> zorder3LayoutSql,
    "hilbert_layout" -> hilbertLayoutSql,
    "layout_locality" -> layoutLocalitySql,
    "layout_pruning" -> layoutPruningSql)
}
