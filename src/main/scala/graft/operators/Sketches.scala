package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Sketch operators — approximate aggregates built so that the SKETCH
  * CONTENTS are a deterministic pure function of the data, which is what
  * makes them (a) mergeable across 100 TB of partitions with a tiny,
  * fixed-size shuffle, and (b) exactly reproducible by the DuckDB oracle
  * (unlike e.g. Spark's approx_count_distinct, whose HLL++ register layout
  * is engine-private).
  *
  * Every arithmetic step that feeds the driver's hash compare is either
  * exact integer math or ONE final IEEE double operation, mirroring the
  * repo-wide exactness strategy.
  */
object Sketches {

  // --- sketch_hll ---------------------------------------------------------
  // Flajolet–Martin / HyperLogLog distinct-count sketch, m = 64 registers
  // (p = 6), per event_type over user_id. Construction:
  //   h     = first 60 bits of md5(user_id)  (15 hex chars → BIGINT)
  //   idx   = h mod 64                       (register index)
  //   rest  = h div 64                       (54-bit rank field)
  //   rho   = leading zeros of rest within 54 bits + 1 = 55 - bitlen(rest)
  //   M[j]  = max rho over values hashing to register j
  //   E     = alpha_64 · m² / Σ_j 2^{-M[j]},  alpha_64 = 0.709
  // The harmonic sum is computed in SCALED INTEGERS — Σ 2^(55-M[j]) plus
  // 2^55 per never-touched register — so no float summation order can
  // diverge between engines; max term 2^55, 64 terms, sum ≤ 2^61 < 2^63.
  // The estimate is then alpha·m²·2^55 (one double product chain of
  // constants) divided by the sum — a single IEEE division, identical in
  // both engines — and snapped to 1e-6 with the repo's floor-rounding.
  // Exact distinct count rides along for calibration.
  //
  // Scale shape: register extraction is a pure map; max-per-register is a
  // map-side-combinable aggregate over ≤ (types × 64) keys; the final
  // reduce touches 64 rows per group. This is THE cardinality pattern for
  // 100 TB — the alternative (exact countDistinct) shuffles every distinct
  // value. The exact count included here is for the oracle/calibration
  // only; a production run would drop that column and keep the sketch.
  private val M = 64 // registers (p = 6)
  private val Alpha = 0.709 // standard HLL alpha for m = 64

  /** HLL register table (event_type, idx, m_j) from an events relation —
    * shared by the batch query and the streaming parity spec (a streaming
    * `max` aggregate in complete mode computes the SAME registers, which is
    * the sketch's mergeability property doing the work).
    */
  private[graft] def hllRegisters(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .select(col("event_type"),
        (col("h") % M).as("idx"), expr(s"h div $M").as("rest"))
      .select(col("event_type"), col("idx"),
        when(col("rest") === 0, lit(55L))
          .otherwise(lit(55L) - length(bin(col("rest")))).as("rho"))
      .groupBy("event_type", "idx").agg(max(col("rho")).as("m_j"))

  def sketchHll(spark: SparkSession, d: String): DataFrame = {
    // Small-range correction (the HLL paper's linear-counting branch) lives
    // in the shared hllEstimate column: with V = m - touched registers
    // empty and a raw estimate ≤ 2.5m, the raw harmonic estimate
    // overshoots badly and m·ln(m/V) is the right estimator. ln() is the
    // ONE libm call in the repo's oracle surface — admissible because its
    // argument is one of only 63 discrete values (m/V, V ∈ 1..63), and JVM
    // Math.log and DuckDB ln were verified to agree on all 63 at the 1e-6
    // floor granularity.
    val sketch = hllScaled(hllRegisters(Tables.events(spark, d)), Seq("event_type"))
    val exact = Tables.events(spark, d)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n_exact"))
    sketch.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), hllEstimate.as("hll_est"))
      .orderBy("event_type")
  }

  val sketchHllSql: String =
    s"""WITH h AS (SELECT event_type, user_id,
       |  CAST(list_reduce(
       |    list_transform(range(1, 16),
       |      i -> strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), CAST(i AS INT), 1)) - 1),
       |    (a, b) -> a * 16 + b) AS BIGINT) AS h
       |  FROM events),
       |r AS (SELECT event_type, h % $M AS idx, h // $M AS rest FROM h),
       |rho AS (SELECT event_type, idx,
       |  CASE WHEN rest = 0 THEN 55 ELSE 55 - length(bin(rest)) END AS rho FROM r),
       |m AS (SELECT event_type, idx, max(rho) AS m_j FROM rho GROUP BY 1, 2),
       |s AS (SELECT event_type, count(*) AS n_regs,
       |  sum(1::BIGINT << CAST(55 - m_j AS INT)) AS sum_present FROM m GROUP BY 1),
       |e AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1),
       |est AS (SELECT event_type, n_regs,
       |  ${Alpha * M * M} * power(2.0, 55)
       |    / CAST(sum_present + ($M - n_regs) * (1::BIGINT << 55) AS DOUBLE) AS raw FROM s)
       |SELECT est.event_type, e.n_exact,
       |  floor(CASE WHEN raw <= ${2.5 * M} AND $M - n_regs > 0
       |             THEN $M.0 * ln($M.0 / CAST($M - n_regs AS DOUBLE))
       |             ELSE raw END * 1e6 + 0.5) / 1e6 AS hll_est
       |FROM est JOIN e ON est.event_type = e.event_type ORDER BY est.event_type""".stripMargin

  // --- sketch_cms ---------------------------------------------------------
  // Count-Min sketch for per-key frequency (the heavy-hitter primitive):
  // depth 4 hash rows × width 64 integer counters over event user_ids.
  // Counter construction is one map-side-combinable groupBy on (row, idx) —
  // at 100 TB the sketch state is a CONSTANT 256 counters per partition
  // merged by addition, vs. an exact per-key count that shuffles every key.
  // The point estimate for a key is min over rows of its counter, always an
  // OVERestimate (collisions only add) — the spec asserts est ≥ exact for
  // every key and the oracle reproduces the counters exactly (pure integer
  // math, md5-carved row hashes, no float anywhere).
  // The exact per-key count rides along for calibration, as in sketch_hll.
  private val CmsDepth = 4
  private val CmsWidth = 64

  // row hashes: idx_i(k) = hex chars [8i+1, 8i+8] of md5(k) mod width —
  // depth independent 32-bit positions CARVED FROM ONE md5 (the
  // sketch_bloom trick). One md5 per row, never one per hash: a seeded
  // form md5(i||':'||k) computes depth md5s per row — 40M md5s at sf10
  // were 57 of the entry's 68 core-seconds; the carve computes one (subexpression elimination
  // shares it across the array elements, unconditional projection), and
  // 4×32 disjoint bits of one md5 are as pairwise-independent as 4
  // seeded md5s for CMS purposes.
  // index i from an already-computed md5 hex column (ONE md5 per row; the
  // carve alone doesn't help if the md5 sits inside the explode's array
  // constructor — generators re-evaluate it per element, so the hash is
  // materialized as its own projected column first)
  private def cmsIdxFromHash(i: Int, h: org.apache.spark.sql.Column) =
    conv(substring(h, 8 * i + 1, 8), 16, 10).cast("long") % CmsWidth

  /** CMS counter table (r, idx, c) from an events relation — shared by the
    * batch query and the streaming parity spec (a streaming `count`
    * aggregate in complete mode maintains the SAME 4×64 counters: counter
    * addition IS the sketch's merge operation).
    */
  private[graft] def cmsCells(events: DataFrame): DataFrame =
    events
      .select(md5(col("user_id").cast("string")).as("h"))
      .select(explode(array((0 until CmsDepth).map(i =>
        struct(lit(i).as("r"), cmsIdxFromHash(i, col("h")).as("idx"))): _*)).as("cell"))
      .select(col("cell.r").as("r"), col("cell.idx").as("idx"))
      .groupBy("r", "idx").agg(count(lit(1)).as("c"))

  def sketchCms(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    // counters straight from the RAW stream: one scan, explode to (row,
    // idx), map-side combine collapses each partition to ≤ depth·width
    // cells before the (tiny) shuffle — the construction that never
    // materializes per-key state, which is the whole point of CMS at scale
    val cells = cmsCells(ev)
    // estimate side: hash the PER-KEY AGGREGATE, not the raw stream — the
    // distinct-key table is what we're estimating over, and computing the
    // row hashes there costs |keys| md5s instead of |events|
    val keys = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
    val perRow = keys
      .select(col("user_id"), col("n_exact"),
        md5(col("user_id").cast("string")).as("h"))
      .select(col("user_id"), col("n_exact"),
        explode(array((0 until CmsDepth).map(i =>
          struct(lit(i).as("r"), cmsIdxFromHash(i, col("h")).as("idx"))): _*)).as("cell"))
      .select(col("user_id"), col("n_exact"), col("cell.r").as("r"), col("cell.idx").as("idx"))
    perRow.join(broadcast(cells), Seq("r", "idx"))
      .groupBy("user_id").agg(max(col("n_exact")).as("n_exact"), min(col("c")).as("cms_est"))
      .orderBy("user_id")
  }

  val sketchCmsSql: String = {
    val idxCols = (0 until CmsDepth).map(i =>
      s"""  CAST(list_reduce(list_transform(range(${8 * i + 1}, ${8 * i + 9}),
         |    j -> strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), CAST(j AS INT), 1)) - 1),
         |    (a, b) -> a * 16 + b) AS BIGINT) % $CmsWidth AS idx$i""".stripMargin).mkString(",\n")
    val cellUnion = (0 until CmsDepth).map(i =>
      s"SELECT $i AS r, idx$i AS idx FROM h").mkString("\nUNION ALL\n")
    val perRowUnion = (0 until CmsDepth).map(i =>
      s"SELECT user_id, n_exact, $i AS r, idx$i AS idx FROM k").mkString("\nUNION ALL\n")
    s"""WITH h AS (SELECT user_id,
       |$idxCols
       |FROM events),
       |cells AS (SELECT r, idx, count(*) AS c FROM ($cellUnion) GROUP BY 1, 2),
       |g AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1),
       |k AS (SELECT user_id, n_exact,
       |$idxCols
       |FROM g),
       |pr AS ($perRowUnion)
       |SELECT user_id, max(n_exact) AS n_exact, min(c) AS cms_est
       |FROM pr JOIN cells USING (r, idx)
       |GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  // --- sketch_bloom -------------------------------------------------------
  // Bloom-filter membership sketch per event_type over user_ids: m = 4096
  // bits, k = 4 hash positions carved from md5(user_id) (3 hex chars per
  // position — the same carve-independent-hashes-from-one-md5 trick as
  // minhash_sig). A probe is "maybe present" iff ALL k bits are set; the
  // exact membership flag rides along for calibration, so the output
  // exposes false positives directly (bloom_hit=1 ∧ exact_hit=0 — at this
  // load factor, 150·4/4096 ≈ 0.15, the expected FP rate is ~1e-3;
  // SketchesSpec proves the FP mechanics on a saturated 64-bit filter).
  // Scale shape: the bit set is a distinct over (type, pos) — map-side
  // partial dedup collapses every partition to ≤ types·m rows before the
  // one tiny shuffle, i.e. CONSTANT sketch state per partition merged by
  // set-union, the Bloom merge law. The probe grid (types × 20 uids × k)
  // is constant-sized; no corpus-sized movement anywhere but the scan.
  // Pure integer/string math — no floats at all.
  // The probe band is DERIVED from the corpus: [max(user_id) − SPAN,
  // max(user_id) + SPAN), so it straddles the membership boundary at
  // every scale factor (r7 hardcoded 140–160 around sf0.01's max of 149;
  // at sf0.1+ every probe was a member and the false-positive surface the
  // operator exists to expose degenerated to all-1s — r7 advice). The max
  // is a one-row aggregate crossed into the grid — no driver round-trip.
  private val BloomK = 4 // hash functions (3 hex chars each → m = 4096)
  private val BloomBits = 4096 // filter width (one 3-hex-digit position space)
  private val ProbeSpan = 10L // probe band half-width around max(user_id)

  // position j of key k = int value of md5 hex chars [3j+1, 3j+3] — 12 of
  // the 32 md5 chars used, 4 independent 12-bit positions
  private def bloomPos(key: org.apache.spark.sql.Column, j: Int) =
    conv(substring(md5(key.cast("string")), 3 * j + 1, 3), 16, 10).cast("long")

  def sketchBloom(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    // md5 hoisted to its own projection before the explode (the cmsCells
    // note: a generator re-evaluates its array argument per element)
    // A generator re-evaluates its array argument PER ELEMENT, so nothing
    // costly may sit inside the explode (the md5 hoist, carried through to
    // the hex parse): with conv(substring(h,...)) inside
    // the explode the 4-entry array cost 16 string parses per row. The
    // first 12 hex chars now parse ONCE into a 48-bit long in their own
    // projection, and the explode emits shift/mask slices — the re-
    // evaluated-per-element exprs are two integer ops. Position values
    // are bit-identical (digits [3j+1,3j+3] == (hb >> 12·(3−j)) & 0xFFF).
    val bits = ev
      .select(col("event_type"), md5(col("user_id").cast("string")).as("h"))
      .select(col("event_type"),
        conv(substring(col("h"), 1, 3 * BloomK), 16, 10).cast("long").as("hb"))
      .select(col("event_type"),
        explode(array((0 until BloomK).map(j =>
          shiftright(col("hb"), 12 * (BloomK - 1 - j)).bitwiseAND(lit(0xFFFL))): _*)).as("pos"))
      .distinct()
    val types = ev.select("event_type").distinct()
    // one-row corpus max → 20-probe band straddling the membership boundary
    val mx = ev.agg(max(col("user_id")).as("mx"))
    val probes = types.crossJoin(broadcast(mx))
      .select(col("event_type"),
        explode(sequence(col("mx") - ProbeSpan, col("mx") + ProbeSpan - 1)).as("probe_uid"))
    val pp = probes.select(col("event_type"), col("probe_uid"),
      explode(array((0 until BloomK).map(j =>
        struct(lit(j).as("j"), bloomPos(col("probe_uid"), j).as("pos"))): _*)).as("x"))
      .select(col("event_type"), col("probe_uid"),
        col("x.j").as("j"), col("x.pos").as("pos"))
    val hit = pp.join(bits, Seq("event_type", "pos"))
      .groupBy("event_type", "probe_uid").agg(countDistinct(col("j")).as("nhit"))
    val exact = ev.select(col("event_type"), col("user_id").as("probe_uid"))
      .distinct().withColumn("ex", lit(1L))
    probes.join(hit, Seq("event_type", "probe_uid"), "left")
      .join(exact, Seq("event_type", "probe_uid"), "left")
      .select(col("event_type"), col("probe_uid"),
        (coalesce(col("nhit"), lit(0L)) === BloomK).cast("long").as("bloom_hit"),
        coalesce(col("ex"), lit(0L)).as("exact_hit"))
      .orderBy("event_type", "probe_uid")
  }

  val sketchBloomSql: String = {
    def posSql(key: String, j: String): String =
      s"""(strpos('0123456789abcdef', substr(md5(CAST($key AS VARCHAR)), CAST(3*$j+1 AS INT), 1)) - 1) * 256 +
         |  (strpos('0123456789abcdef', substr(md5(CAST($key AS VARCHAR)), CAST(3*$j+2 AS INT), 1)) - 1) * 16 +
         |  (strpos('0123456789abcdef', substr(md5(CAST($key AS VARCHAR)), CAST(3*$j+3 AS INT), 1)) - 1)""".stripMargin
    s"""WITH h AS (SELECT DISTINCT event_type, user_id FROM events),
       |bits AS (SELECT DISTINCT event_type,
       |  ${posSql("user_id", "j")} AS pos
       |  FROM h, range(0, $BloomK) t(j)),
       |types AS (SELECT DISTINCT event_type FROM events),
       |mx AS (SELECT max(user_id) AS mx FROM events),
       |probe AS (SELECT event_type, CAST(mx - $ProbeSpan + u AS BIGINT) AS probe_uid
       |          FROM types, mx, range(0, ${2 * ProbeSpan}) t(u)),
       |pp AS (SELECT event_type, probe_uid,
       |  ${posSql("probe_uid", "j")} AS pos, j
       |  FROM probe, range(0, $BloomK) t(j)),
       |hit AS (SELECT pp.event_type, pp.probe_uid, count(DISTINCT pp.j) AS nhit
       |        FROM pp JOIN bits ON bits.event_type = pp.event_type AND bits.pos = pp.pos GROUP BY 1, 2)
       |SELECT p.event_type, p.probe_uid,
       | CAST(coalesce(h2.nhit, 0) = $BloomK AS BIGINT) AS bloom_hit,
       | CAST(EXISTS (SELECT 1 FROM h WHERE h.event_type = p.event_type AND h.user_id = p.probe_uid) AS BIGINT) AS exact_hit
       |FROM probe p LEFT JOIN hit h2 ON h2.event_type = p.event_type AND h2.probe_uid = p.probe_uid
       |ORDER BY 1, 2""".stripMargin
  }

  // --- sketch_bloom_join --------------------------------------------------
  // Bloom-filter semi-join pushdown — THE sketch-driven join optimization
  // at 100 TB (Spark's own runtime bloom-filter join injects exactly this
  // shape): the selective build side (orders from the trailing 7 days of
  // the data) compresses to a 4096-bit bitmap collected ONCE on the driver
  // (64 longs — the same KB-scale quantizer-state contract as IVF
  // centroids), re-injected as a constant-folded literal array, and every
  // fact key is membership-tested in the scan's project list: K md5 probes
  // + bit tests, a pure map. At deployment the fact side sheds the
  // non-matching ~99% of its rows BEFORE the join shuffle — the difference
  // between shuffling 100 TB and shuffling the week's slice. The
  // PRODUCTION entry reports what the filter does to the fact side (lines
  // total / lines passing the bloom); the COMPANION audit entry
  // sketch_bloom_join_calib (a separate registry entry) joins the true build side back in
  // to grade false positives — the truth join is calibration, not the
  // deployed path. No false negatives by construction — every true key's
  // bits were set — which the calib oracle's n_true ≤ n_pass and the spec
  // both pin.
  private val BloomJoinDays = 7

  /** Build-side bitmap (driver-side KB state) + the fact-key membership
    * predicate, shared by the production and calibration entries. Returns
    * (build keys DF, per-distinct-fact-key counts DF with the bloom
    * verdict column `p`).
    */
  private def bloomJoinParts(spark: SparkSession, d: String): (DataFrame, DataFrame) = {
    val o = Tables.orders(spark, d)
    val cutoff = o.agg((max(col("o_orderdate")) - expr(s"INTERVAL $BloomJoinDays DAYS")).as("cut"))
    val build = o.crossJoin(cutoff).filter(col("o_orderdate") >= col("cut"))
      .select(col("o_orderkey"))
    // 64-long bitmap of the build keys' bloom bits (driver-side KB state)
    val words = new Array[Long](BloomBits / 64)
    build.select(explode(array((0 until BloomK).map(j =>
        bloomPos(col("o_orderkey"), j)): _*)).as("pos"))
      .distinct().collect().foreach { r =>
        val p = r.getLong(0)
        words((p / 64).toInt) |= (1L << (p % 64).toInt)
      }
    // membership test as one scan-side boolean: foldable literal array +
    // K (word >> bit) & 1 probes. SQL text because the Scala shiftleft
    // wrapper only takes a constant shift; the SQL function takes a column.
    // One md5 per key feeds all K probes: probes that each recompute
    // md5(key) — 4 md5 evaluations per distinct orderkey — were the bulk of
    // a 103 core-second stage at sf10 (15M keys). ONE named md5 column
    // now feeds all K substrings; the oracle's posSql derives all probes
    // from one md5() too, so the grading contract is unchanged.
    val bm = words.map(w => s"${w}L").mkString("array(", ",", ")")
    val member = (0 until BloomK).map { j =>
      val pos = s"CAST(conv(substr(h, ${3 * j + 1}, 3), 16, 10) AS INT)"
      s"((element_at($bm, CAST($pos DIV 64 + 1 AS INT)) & shiftleft(1L, $pos % 64)) != 0L)"
    }.mkString("(", " AND ", ")")
    val lk = Tables.lineitem(spark, d).groupBy("l_orderkey").agg(count(lit(1)).as("nl"))
      .withColumn("h", md5(col("l_orderkey").cast("string")))
    (build, lk.withColumn("p", expr(member)).drop("h"))
  }

  def sketchBloomJoin(spark: SparkSession, d: String): DataFrame = {
    val (_, lk) = bloomJoinParts(spark, d)
    lk.agg(sum(col("nl")).as("n_fact_lines"),
        sum(when(col("p"), col("nl")).otherwise(lit(0L))).as("n_pass_bloom"))
      .select(col("n_fact_lines"), col("n_pass_bloom"))
  }

  // --- sketch_bloom_join_calib --------------------------------------------
  // Companion AUDIT entry: the true 7-day build side joined back against
  // the per-key bloom verdicts to grade the filter — true matches and
  // false positives. The equijoin with the build side is exactly the work
  // the deployed filter avoids doing on the shed rows; run for
  // calibration, not on the hot path.
  def sketchBloomJoinCalib(spark: SparkSession, d: String): DataFrame = {
    val (build, lk) = bloomJoinParts(spark, d)
    lk.join(build.withColumn("t", lit(1L)),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(sum(col("nl")).as("n_fact_lines"),
        sum(when(col("p"), col("nl")).otherwise(lit(0L))).as("n_pass_bloom"),
        sum(when(col("t") === 1L, col("nl")).otherwise(lit(0L))).as("n_true_match"))
      .select(col("n_fact_lines"), col("n_pass_bloom"), col("n_true_match"),
        (col("n_pass_bloom") - col("n_true_match")).as("n_false_pos"))
  }

  private def bloomJoinCte: String = {
    def posSql(key: String, j: String): String =
      s"""(strpos('0123456789abcdef', substr(md5(CAST($key AS VARCHAR)), CAST(3*$j+1 AS INT), 1)) - 1) * 256 +
         |  (strpos('0123456789abcdef', substr(md5(CAST($key AS VARCHAR)), CAST(3*$j+2 AS INT), 1)) - 1) * 16 +
         |  (strpos('0123456789abcdef', substr(md5(CAST($key AS VARCHAR)), CAST(3*$j+3 AS INT), 1)) - 1)""".stripMargin
    s"""WITH mx AS (SELECT max(o_orderdate) - INTERVAL $BloomJoinDays DAY AS cut FROM orders),
       |b AS (SELECT o_orderkey FROM orders, mx WHERE o_orderdate >= cut),
       |bits AS (SELECT DISTINCT ${posSql("o_orderkey", "j")} AS pos
       |  FROM b, range(0, $BloomK) t(j)),
       |lk AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS nl FROM lineitem GROUP BY 1),
       |kp AS (SELECT l_orderkey, ${posSql("l_orderkey", "j")} AS pos, j
       |  FROM lk, range(0, $BloomK) t(j)),
       |hit AS (SELECT l_orderkey, count(DISTINCT j) AS nhit
       |  FROM kp JOIN bits USING (pos) GROUP BY 1)""".stripMargin
  }

  val sketchBloomJoinSql: String = bloomJoinCte +
    s""",
       |f AS (SELECT lk.l_orderkey, nl,
       |  CASE WHEN coalesce(nhit, 0) = $BloomK THEN 1 ELSE 0 END AS p
       | FROM lk LEFT JOIN hit USING (l_orderkey))
       |SELECT CAST(sum(nl) AS BIGINT) AS n_fact_lines,
       | CAST(sum(nl*p) AS BIGINT) AS n_pass_bloom
       |FROM f""".stripMargin

  val sketchBloomJoinCalibSql: String = bloomJoinCte +
    s""",
       |f AS (SELECT lk.l_orderkey, nl,
       |  CASE WHEN coalesce(nhit, 0) = $BloomK THEN 1 ELSE 0 END AS p,
       |  CASE WHEN EXISTS (SELECT 1 FROM b WHERE b.o_orderkey = lk.l_orderkey)
       |       THEN 1 ELSE 0 END AS t
       | FROM lk LEFT JOIN hit USING (l_orderkey))
       |SELECT CAST(sum(nl) AS BIGINT) AS n_fact_lines,
       | CAST(sum(nl*p) AS BIGINT) AS n_pass_bloom,
       | CAST(sum(nl*t) AS BIGINT) AS n_true_match,
       | CAST(sum(nl*p) - sum(nl*t) AS BIGINT) AS n_false_pos
       |FROM f""".stripMargin

  // --- sketch_hll_union ---------------------------------------------------
  // The HLL MERGE law exercised at oracle level: the per-type register
  // tables sketch_hll builds are unioned by taking max(m_j) per register
  // index — the whole point of an HLL at 100 TB is that per-partition /
  // per-shard / per-day sketches merge into the global one without
  // touching raw data again. The merged registers feed the identical
  // estimate formula (scaled-integer harmonic sum, one IEEE division,
  // same verified ln() small-range branch); exact global distinct rides
  // along for calibration.
  // Scale shape: merging is a 64-key max-aggregate over |types|·64 rows —
  // constant work regardless of corpus size. (The Scala mergeability spec
  // proves split-corpus register equality; this operator proves the
  // MERGED ESTIMATE against the oracle.)
  def sketchHllUnion(spark: SparkSession, d: String): DataFrame = {
    val merged = hllScaled(
      hllRegisters(Tables.events(spark, d))
        .groupBy("idx").agg(max(col("m_j")).as("m_j")), Seq.empty)
    val exact = Tables.events(spark, d)
      .agg(countDistinct(col("user_id")).as("n_exact"))
    merged.crossJoin(exact)
      .select(lit("all_types").as("scope"), col("n_exact"), hllEstimate.as("hll_est"))
  }

  val sketchHllUnionSql: String =
    s"""WITH h AS (SELECT user_id,
       |  CAST(list_reduce(
       |    list_transform(range(1, 16),
       |      i -> strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), CAST(i AS INT), 1)) - 1),
       |    (a, b) -> a * 16 + b) AS BIGINT) AS h
       |  FROM events),
       |r AS (SELECT h % $M AS idx, h // $M AS rest FROM h),
       |rho AS (SELECT idx,
       |  CASE WHEN rest = 0 THEN 55 ELSE 55 - length(bin(rest)) END AS rho FROM r),
       |m AS (SELECT idx, max(rho) AS m_j FROM rho GROUP BY 1),
       |s AS (SELECT count(*) AS n_regs,
       |  sum(1::BIGINT << CAST(55 - m_j AS INT)) AS sum_present FROM m),
       |e AS (SELECT count(DISTINCT user_id) AS n_exact FROM events),
       |est AS (SELECT n_regs,
       |  ${Alpha * M * M} * power(2.0, 55)
       |    / CAST(sum_present + ($M - n_regs) * (1::BIGINT << 55) AS DOUBLE) AS raw FROM s)
       |SELECT 'all_types' AS scope, e.n_exact,
       |  floor(CASE WHEN raw <= ${2.5 * M} AND $M - n_regs > 0
       |             THEN $M.0 * ln($M.0 / CAST($M - n_regs AS DOUBLE))
       |             ELSE raw END * 1e6 + 0.5) / 1e6 AS hll_est
       |FROM est, e""".stripMargin

  // --- sketch_hll_intersection ----------------------------------------------
  // Approximate audience INTERSECTION per event-type pair by
  // inclusion–exclusion over HLL sketches: |A∩B| ≈ est(A) + est(B) −
  // est(A∪B), where the union estimate comes from the max-merged register
  // pair — the standard warehouse answer to "how many users do both X and
  // Y" when the raw user sets are 100 TB-scale (the exact counterpart is
  // q_overlap_matrix; this is what replaces it when even the distinct
  // user-type table is too large to pair exactly). Every estimate reuses
  // sketch_hll's scaled-integer harmonic sum + verified ln() small-range
  // branch; the three estimates are snapped to 1e-6 BEFORE the one
  // subtraction chain, so the combination is arithmetic on identical
  // doubles in both engines. Inclusion–exclusion noise can legitimately go
  // negative for near-disjoint sets — reported as computed, because a
  // calibration table must show the estimator's true behavior (exact
  // intersection rides along, from one user-hashed combinable collect_set
  // + in-row pair expansion — never a corpus self-join).
  // Scale shape: registers are ONE combinable aggregate onto |types|·64
  // keys; everything after is arithmetic over ≤ C(|types|,2)·64 rows.
  private def hllEstimate: Column = {
    val vEmpty = lit(M.toLong) - col("n_regs")
    val raw = lit(Alpha * M * M) * lit(math.pow(2.0, 55)) / col("sum_scaled").cast("double")
    val est = when(raw <= lit(2.5 * M) && vEmpty > 0,
      lit(M.toDouble) * log(lit(M.toDouble) / vEmpty.cast("double"))).otherwise(raw)
    floor(est * 1e6 + 0.5) / 1e6
  }

  private def hllScaled(regs: DataFrame, keys: Seq[String]): DataFrame =
    regs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_regs"),
        sum(expr("shiftleft(1L, CAST(55 - m_j AS INT))")).as("sum_present"))
      .withColumn("sum_scaled",
        col("sum_present") + (lit(M.toLong) - col("n_regs")) * lit(1L << 55))

  def sketchHllIntersection(spark: SparkSession, d: String): DataFrame =
    sketchHllIntersectionFrom(Tables.events(spark, d))

  /** DataFrame-in core for [[sketchHllIntersection]] (events needs user_id,
    * event_type) — exposed so the randomized spec can pin the
    * inclusion–exclusion estimate against an in-process register
    * simulation on constructed user sets. */
  def sketchHllIntersectionFrom(ev: DataFrame): DataFrame = {
    // |types|×64-row aggregate with THREE consumers (per-type estimates,
    // the type list, the pairwise max-merge) — each recompute was a full
    // corpus scan + per-row md5 fold (at sf10 the entry's 9.2× ratio to
    // DuckDB was 3 register passes, not the merge). Lazy localCheckpoint,
    // the dsCusumFrom storage contract.
    val regs = hllRegisters(ev).localCheckpoint(false)
    val perType = hllScaled(regs, Seq("event_type"))
      .select(col("event_type"), hllEstimate.as("est"))
    val types = regs.select("event_type").distinct()
    val pairs = types.select(col("event_type").as("type_a"))
      .crossJoin(types.select(col("event_type").as("type_b")))
      .filter(col("type_a") < col("type_b"))
    val merged = pairs
      .join(regs, col("event_type") === col("type_a") ||
        col("event_type") === col("type_b"))
      .groupBy(col("type_a"), col("type_b"), col("idx"))
      .agg(max(col("m_j")).as("m_j"))
    val estAb = hllScaled(merged, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), hllEstimate.as("est_ab"))
    val exactPairs = ev.select("user_id", "event_type").distinct()
      .groupBy("user_id").agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .select(explode(expr(
        "flatten(transform(ts, (a, i) -> " +
          "transform(slice(ts, i + 2, size(ts)), b -> struct(a AS ta, b AS tb))))")).as("p"))
      .groupBy(col("p.ta").as("type_a"), col("p.tb").as("type_b"))
      .agg(count(lit(1)).as("n_exact"))
    estAb
      .join(perType.select(col("event_type").as("type_a"), col("est").as("ea")), Seq("type_a"))
      .join(perType.select(col("event_type").as("type_b"), col("est").as("eb")), Seq("type_b"))
      .join(exactPairs, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        (floor((col("ea") + col("eb") - col("est_ab")) * 1e6 + 0.5) / 1e6).as("inter_est"))
      .orderBy("type_a", "type_b")
  }

  val sketchHllIntersectionSql: String =
    s"""WITH h AS (SELECT event_type, user_id,
       |  CAST(list_reduce(
       |    list_transform(range(1, 16),
       |      i -> strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), CAST(i AS INT), 1)) - 1),
       |    (a, b) -> a * 16 + b) AS BIGINT) AS h
       |  FROM events),
       |r AS (SELECT event_type, h % $M AS idx, h // $M AS rest FROM h),
       |rho AS (SELECT event_type, idx,
       |  CASE WHEN rest = 0 THEN 55 ELSE 55 - length(bin(rest)) END AS rho FROM r),
       |m AS (SELECT event_type, idx, max(rho) AS m_j FROM rho GROUP BY 1, 2),
       |pt AS (SELECT event_type, count(*) AS n_regs,
       |  sum(1::BIGINT << CAST(55 - m_j AS INT)) AS sum_present FROM m GROUP BY 1),
       |pte AS (SELECT event_type,
       |  floor((CASE WHEN ${Alpha * M * M} * power(2.0, 55)
       |      / CAST(sum_present + ($M - n_regs) * (1::BIGINT << 55) AS DOUBLE) <= ${2.5 * M}
       |      AND $M - n_regs > 0
       |    THEN $M.0 * ln($M.0 / CAST($M - n_regs AS DOUBLE))
       |    ELSE ${Alpha * M * M} * power(2.0, 55)
       |      / CAST(sum_present + ($M - n_regs) * (1::BIGINT << 55) AS DOUBLE) END) * 1e6 + 0.5) / 1e6 AS est
       |  FROM pt),
       |tp AS (SELECT DISTINCT event_type FROM m),
       |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b
       |       FROM tp a, tp b WHERE a.event_type < b.event_type),
       |mg AS (SELECT type_a, type_b, idx, max(m_j) AS m_j
       |       FROM pr JOIN m ON event_type = type_a OR event_type = type_b
       |       GROUP BY 1, 2, 3),
       |pu AS (SELECT type_a, type_b, count(*) AS n_regs,
       |  sum(1::BIGINT << CAST(55 - m_j AS INT)) AS sum_present FROM mg GROUP BY 1, 2),
       |pue AS (SELECT type_a, type_b,
       |  floor((CASE WHEN ${Alpha * M * M} * power(2.0, 55)
       |      / CAST(sum_present + ($M - n_regs) * (1::BIGINT << 55) AS DOUBLE) <= ${2.5 * M}
       |      AND $M - n_regs > 0
       |    THEN $M.0 * ln($M.0 / CAST($M - n_regs AS DOUBLE))
       |    ELSE ${Alpha * M * M} * power(2.0, 55)
       |      / CAST(sum_present + ($M - n_regs) * (1::BIGINT << 55) AS DOUBLE) END) * 1e6 + 0.5) / 1e6 AS est_ab
       |  FROM pu),
       |ut AS (SELECT DISTINCT user_id, event_type FROM events),
       |ex AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
       |  CAST(count(*) AS BIGINT) AS n_exact
       |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
       |  GROUP BY 1, 2)
       |SELECT pue.type_a, pue.type_b, COALESCE(n_exact, 0) AS n_exact,
       |  floor((ea.est + eb.est - est_ab) * 1e6 + 0.5) / 1e6 AS inter_est
       |FROM pue
       |JOIN pte ea ON pue.type_a = ea.event_type
       |JOIN pte eb ON pue.type_b = eb.event_type
       |LEFT JOIN ex ON pue.type_a = ex.type_a AND pue.type_b = ex.type_b
       |ORDER BY pue.type_a, pue.type_b""".stripMargin

  // --- sketch_quantile ----------------------------------------------------
  // Fixed-grid histogram quantile sketch — the mergeable quantile path
  // (the same role a KLL/t-digest plays, built deterministic so the
  // oracle can replay it): per event_type, values are binned onto a FIXED
  // data-independent grid (64 bins × width 16 over [0, 1024), top bin
  // clamps), and quantile q(p) is reported as the upper edge of the first
  // bin whose cumulative count reaches ceil(p·n) — integer ranks via
  // ceil-division, bin edges exact doubles.
  // Scale shape: the sketch is a map-side-combinable count over ≤ 64·types
  // keys — constant state per partition, mergeable by addition (the
  // production path at 100 TB); the cumulative window runs over the
  // 64-row-per-type BIN table, never the corpus. The DISCRETE exact
  // percentile (q_percentiles' rank rule) lives in the COMPANION audit
  // entry sketch_quantile_calib (a separate entry, the dedup_recall pattern):
  // the exact side pays a per-type corpus sort — that is what truth
  // costs, and it is a cost this production entry no longer carries, so
  // the bench grades the scale path and the calib entry grades the error.
  private val QBins = 64
  private val QWidth = 16.0

  /** Sketch-side estimate (event_type, n, p50_est, p90_est, p99_est) —
    * shared by the production entry and the calibration audit entry.
    */
  private def quantileEst(ev: DataFrame): DataFrame = {
    def rank(p: Int) = expr(s"(n * $p + 99) div 100")
    val counts = ev
      .withColumn("bin", least(lit(QBins - 1L), floor(col("value") / QWidth)).cast("long"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("c"))
    // per-type n derives from the 64-row-per-type bin table — the sketch
    // is self-describing, no second corpus pass for totals
    val n = counts.groupBy("event_type").agg(sum(col("c")).as("n"))
    val wcum = Window.partitionBy("event_type").orderBy("bin")
    counts
      .withColumn("cum", sum(col("c")).over(wcum))
      .join(n, Seq("event_type"))
      .groupBy("event_type")
      .agg(
        min(when(col("cum") >= rank(50), (col("bin") + 1) * QWidth)).as("p50_est"),
        min(when(col("cum") >= rank(90), (col("bin") + 1) * QWidth)).as("p90_est"),
        min(when(col("cum") >= rank(99), (col("bin") + 1) * QWidth)).as("p99_est"))
      .join(n, Seq("event_type"))
  }

  private val QuantileEstCte: String =
    s"""WITH n AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
       |b AS (SELECT event_type,
       |  least(${QBins - 1}, CAST(floor(value / $QWidth) AS BIGINT)) AS bin, count(*) AS c
       | FROM events GROUP BY 1, 2),
       |cum AS (SELECT event_type, bin, c,
       |  sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum FROM b),
       |est AS (SELECT c.event_type,
       |  min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN (bin + 1) * $QWidth END) AS p50_est,
       |  min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN (bin + 1) * $QWidth END) AS p90_est,
       |  min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN (bin + 1) * $QWidth END) AS p99_est
       | FROM cum c JOIN n ON c.event_type = n.event_type GROUP BY 1)""".stripMargin

  def sketchQuantile(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d).select(col("event_type"), col("value"))
    quantileEst(ev)
      .select("event_type", "n", "p50_est", "p90_est", "p99_est")
      .orderBy("event_type")
  }

  val sketchQuantileSql: String = QuantileEstCte +
    """
      |SELECT est.event_type, n.n, p50_est, p90_est, p99_est
      |FROM est JOIN n ON est.event_type = n.event_type
      |ORDER BY est.event_type""".stripMargin

  // --- sketch_quantile_calib ----------------------------------------------
  // Companion AUDIT entry: the discrete exact percentiles (q_percentiles'
  // rank rule) joined against the sketch estimates, giving the sketch's
  // error directly. The exact side uses the VALUE-HISTOGRAM decomposition
  // (no corpus-fed per-type window, which the bounded-window audit
  // forbids — the ds_outlier_mad precedent): the
  // value at rank r is the smallest value whose cumulative histogram
  // count reaches r, so the corpus pays one map-side-combinable groupBy
  // (lattice-capped partials) and the rank scan runs over the
  // report-sized histogram — the old plan row_number'd every event inside
  // |event_types| window partitions, one task per type at any scale.
  def sketchQuantileCalib(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d).select(col("event_type"), col("event_id"), col("value"))
    def rank(p: Int) = expr(s"(n * $p + 99) div 100")
    val est = quantileEst(ev.select("event_type", "value"))
    val cw = Window.partitionBy("event_type").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exact = ev
      .groupBy("event_type", "value").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(cw))
      .join(est.select("event_type", "n"), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        min(when(col("cum") >= rank(50), col("value"))).as("p50_exact"),
        min(when(col("cum") >= rank(90), col("value"))).as("p90_exact"),
        min(when(col("cum") >= rank(99), col("value"))).as("p99_exact"))
    est.join(exact, Seq("event_type"))
      .select("event_type", "n", "p50_est", "p50_exact", "p90_est", "p90_exact",
        "p99_est", "p99_exact")
      .orderBy("event_type")
  }

  val sketchQuantileCalibSql: String = QuantileEstCte +
    s""",
       |r AS (SELECT event_type, event_id, value,
       |  CAST(row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS rn
       | FROM events),
       |ex AS (SELECT r.event_type,
       |  min(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50_exact,
       |  min(CASE WHEN rn = (n * 90 + 99) // 100 THEN value END) AS p90_exact,
       |  min(CASE WHEN rn = (n * 99 + 99) // 100 THEN value END) AS p99_exact
       | FROM r JOIN n ON r.event_type = n.event_type GROUP BY 1)
       |SELECT est.event_type, n.n, p50_est, p50_exact, p90_est, p90_exact,
       | p99_est, p99_exact
       |FROM est JOIN ex ON est.event_type = ex.event_type
       | JOIN n ON est.event_type = n.event_type
       |ORDER BY est.event_type""".stripMargin

  // --- sketch_theta -------------------------------------------------------
  // Fixed-threshold theta sketch for distinct counting (the KMV/theta
  // family, Dasgupta et al.): retain only the distinct user-id hashes
  // whose first md5 nibble is 0 — a deterministic 1/16 sample of HASH
  // SPACE (not of rows), so est = 16 · |retained| estimates the true
  // distinct count. Unlike HLL this keeps the retained hashes themselves,
  // which is what makes INTERSECTION estimable (sketch_jaccard) — the
  // trade: O(distinct/16) state instead of O(1) registers. Scale shape:
  // the nibble filter runs in the SCAN, so the distinct only shuffles
  // 1/16th of the key space; state merges by set-union. Pure integer
  // output — est is exact arithmetic, hash-verifiable. The exact
  // countDistinct rides along for calibration, as in sketch_hll (dropped
  // in production use).
  private val ThetaInv = 16 // retain 1/16 of hash space: first hex nibble = '0'

  // The sketched set is ACTIVE USER-DAYS (user_id:day), not bare users —
  // this corpus's types all touch the identical user population, so bare
  // user sets would make every pairwise Jaccard exactly 1.0; activity
  // patterns genuinely differ per type (and user-day audiences are what
  // overlap dashboards compare anyway).
  private def userDayHash: org.apache.spark.sql.Column =
    md5(concat_ws(":", col("user_id").cast("string"),
      date_format(col("ts"), "yyyy-MM-dd")))

  private val UserDayHashSql: String =
    "md5(CAST(user_id AS VARCHAR) || ':' || strftime(CAST(ts AS DATE), '%Y-%m-%d'))"

  def sketchTheta(spark: SparkSession, d: String): DataFrame = {
    // One pass over the distinct (type, user, day) set: a two-branch form pays
    // two full scans (md5 over every RAW row on one, countDistinct's
    // two-level expansion on the other) plus two corpus-keyed exchanges.
    // Both outputs are functions of the DISTINCT (type, user, day) set —
    // exact = its size, retained = members whose md5 lands in the kept
    // nibble (h is a pure function of (user, day), so distinct triples map
    // 1:1 to the old distinct (type, h) pairs) — so ONE distinct feeds both
    // as a conditional count, md5 runs on distinct survivors only, and the
    // fact scan is paid once. isNotNull mirrors countDistinct's null-skip.
    val dd = Tables.events(spark, d)
      .where(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    dd.select(col("event_type"),
        md5(concat_ws(":", col("user_id").cast("string"),
          date_format(col("day"), "yyyy-MM-dd"))).as("h"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("exact_distinct"),
        sum(when(substring(col("h"), 1, 1) === "0", 1L).otherwise(0L))
          .as("n_retained"))
      .select(col("event_type"), col("n_retained"),
        (col("n_retained") * ThetaInv).as("est_distinct"),
        col("exact_distinct"))
      .orderBy("event_type")
  }

  val sketchThetaSql: String =
    s"""WITH r AS (SELECT DISTINCT event_type, $UserDayHashSql AS h
       |  FROM events WHERE substr($UserDayHashSql, 1, 1) = '0'),
       |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_retained FROM r GROUP BY 1),
       |e AS (SELECT event_type, CAST(count(DISTINCT (user_id, CAST(ts AS DATE))) AS BIGINT) AS exact_distinct
       |  FROM events GROUP BY 1)
       |SELECT e.event_type,
       | CAST(coalesce(n_retained, 0) AS BIGINT) AS n_retained,
       | CAST(coalesce(n_retained, 0) * $ThetaInv AS BIGINT) AS est_distinct,
       | exact_distinct
       |FROM e LEFT JOIN n ON e.event_type = n.event_type
       |ORDER BY e.event_type""".stripMargin

  // --- sketch_jaccard -----------------------------------------------------
  // Audience-overlap estimation between event types from the SAME theta
  // sketches: because every type retains the same deterministic 1/16 slice
  // of hash space, retained-set intersection/union estimate the TRUE
  // Jaccard of the underlying user sets — the pairwise overlap matrix
  // ("do clickers also purchase?") computed without ever joining the full
  // per-type user sets. Scale shape: the pair join runs on the RETAINED
  // hashes (1/16 of distinct keys, hash-partitioned equijoin), and the
  // |types|² scaffold keeps empty intersections visible. The exact
  // Jaccard (full distinct-set self-join — the expensive path the sketch
  // exists to avoid) lives in the COMPANION audit entry
  // sketch_jaccard_calib (a separate entry): the bench grades the sketch path
  // here and the truth join there.

  /** Sketch-side overlap estimate over the |types|² scaffold — shared by
    * the production entry and the calibration audit entry.
    */
  private def jaccardEst(ev: DataFrame): DataFrame = {
    val ret = ev.select(col("event_type"), userDayHash.as("h"))
      .where(substring(col("h"), 1, 1) === "0").distinct()
    val sizes = ret.groupBy("event_type").agg(count(lit(1)).as("m"))
    val inter = ret.as("a").join(ret.as("b"),
        col("a.h") === col("b.h") && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
      .agg(count(lit(1)).as("ni"))
    val types = ev.select(col("event_type")).distinct()
    val pairs = types.as("x").join(types.as("y"), col("x.event_type") < col("y.event_type"))
      .select(col("x.event_type").as("t1"), col("y.event_type").as("t2"))
    pairs
      .join(inter, Seq("t1", "t2"), "left")
      .join(sizes.select(col("event_type").as("t1"), col("m").as("m1")), Seq("t1"), "left")
      .join(sizes.select(col("event_type").as("t2"), col("m").as("m2")), Seq("t2"), "left")
      .select(col("t1"), col("t2"),
        coalesce(col("m1"), lit(0L)).as("m1"), coalesce(col("m2"), lit(0L)).as("m2"),
        coalesce(col("ni"), lit(0L)).as("n_inter"),
        when(coalesce(col("m1"), lit(0L)) + coalesce(col("m2"), lit(0L)) - coalesce(col("ni"), lit(0L)) > 0,
          coalesce(col("ni"), lit(0L)).cast("double") /
            (coalesce(col("m1"), lit(0L)) + coalesce(col("m2"), lit(0L)) - coalesce(col("ni"), lit(0L))).cast("double"))
          .as("jacc_est"))
  }

  private val JaccardEstCte: String =
    s"""WITH r AS (SELECT DISTINCT event_type, $UserDayHashSql AS h
      |  FROM events WHERE substr($UserDayHashSql, 1, 1) = '0'),
      |sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m FROM r GROUP BY 1),
      |it AS (SELECT a.event_type AS t1, b.event_type AS t2, CAST(count(*) AS BIGINT) AS ni
      |  FROM r a JOIN r b ON a.h = b.h AND a.event_type < b.event_type GROUP BY 1, 2),
      |ty AS (SELECT DISTINCT event_type FROM events),
      |pr AS (SELECT x.event_type AS t1, y.event_type AS t2
      |  FROM ty x JOIN ty y ON x.event_type < y.event_type)""".stripMargin

  private val JaccardEstSelect: String =
    """ CAST(coalesce(s1.m, 0) AS BIGINT) AS m1,
      | CAST(coalesce(s2.m, 0) AS BIGINT) AS m2,
      | CAST(coalesce(ni, 0) AS BIGINT) AS n_inter,
      | CASE WHEN coalesce(s1.m, 0) + coalesce(s2.m, 0) - coalesce(ni, 0) > 0
      |   THEN CAST(coalesce(ni, 0) AS DOUBLE) /
      |        CAST(coalesce(s1.m, 0) + coalesce(s2.m, 0) - coalesce(ni, 0) AS BIGINT) END AS jacc_est""".stripMargin

  def sketchJaccard(spark: SparkSession, d: String): DataFrame =
    jaccardEst(Tables.events(spark, d)).orderBy("t1", "t2")

  val sketchJaccardSql: String = JaccardEstCte +
    s"""
      |SELECT pr.t1, pr.t2,
      |$JaccardEstSelect
      |FROM pr
      |LEFT JOIN it ON pr.t1 = it.t1 AND pr.t2 = it.t2
      |LEFT JOIN sz s1 ON pr.t1 = s1.event_type
      |LEFT JOIN sz s2 ON pr.t2 = s2.event_type
      |ORDER BY pr.t1, pr.t2""".stripMargin

  // --- sketch_jaccard_calib -----------------------------------------------
  // Companion AUDIT entry: the TRUE user-day Jaccard per type pair via the
  // full distinct-set self-join, beside the sketch estimate — the sketch's
  // error, directly. The distinct-set equijoin is the designed cost of
  // truth (what the theta sketch exists to avoid); production runs it on
  // a sample or never, same stance as dedup_recall's truth join.
  def sketchJaccardCalib(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    // The truth sets key on (user_id, day) as INTEGERS — a `uid:day`
    // concat builds 10M strings only to hash/compare them in
    // the distinct and the self-join; (user_id, day) is the same
    // identity (cast-int:date is injective) at a fraction of the
    // exchange payload and with primitive-key hash joins throughout.
    // The self-join equijoins on BOTH columns; counts are unchanged.
    val users = ev.select(col("event_type"), col("user_id"),
      to_date(col("ts")).as("day")).distinct()
    val usizes = users.groupBy("event_type").agg(count(lit(1)).as("mu"))
    val uinter = users.as("a").join(users.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.day") === col("b.day") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
      .agg(count(lit(1)).as("nu"))
    jaccardEst(ev)
      .join(uinter, Seq("t1", "t2"), "left")
      .join(usizes.select(col("event_type").as("t1"), col("mu").as("mu1")), Seq("t1"), "left")
      .join(usizes.select(col("event_type").as("t2"), col("mu").as("mu2")), Seq("t2"), "left")
      .select(col("t1"), col("t2"), col("m1"), col("m2"), col("n_inter"), col("jacc_est"),
        (coalesce(col("nu"), lit(0L)).cast("double") /
          (col("mu1") + col("mu2") - coalesce(col("nu"), lit(0L))).cast("double")).as("jacc_exact"))
      .orderBy("t1", "t2")
  }

  val sketchJaccardCalibSql: String = JaccardEstCte +
    s""",
      |u AS (SELECT DISTINCT event_type,
      |  CAST(user_id AS VARCHAR) || ':' || strftime(CAST(ts AS DATE), '%Y-%m-%d') AS user_id
      |  FROM events),
      |usz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS mu FROM u GROUP BY 1),
      |uit AS (SELECT a.event_type AS t1, b.event_type AS t2, CAST(count(*) AS BIGINT) AS nu
      |  FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type GROUP BY 1, 2)
      |SELECT pr.t1, pr.t2,
      |$JaccardEstSelect,
      | CAST(coalesce(nu, 0) AS DOUBLE) /
      |   CAST(u1.mu + u2.mu - coalesce(nu, 0) AS BIGINT) AS jacc_exact
      |FROM pr
      |LEFT JOIN it ON pr.t1 = it.t1 AND pr.t2 = it.t2
      |LEFT JOIN uit ON pr.t1 = uit.t1 AND pr.t2 = uit.t2
      |LEFT JOIN sz s1 ON pr.t1 = s1.event_type
      |LEFT JOIN sz s2 ON pr.t2 = s2.event_type
      |LEFT JOIN usz u1 ON pr.t1 = u1.event_type
      |LEFT JOIN usz u2 ON pr.t2 = u2.event_type
      |ORDER BY pr.t1, pr.t2""".stripMargin

  // --- sketch_log_histogram -------------------------------------------------
  // Log-bucketed quantile sketch with RELATIVE-error bounds (the DDSketch
  // family, Masson et al. VLDB 2019) — the complement of sketch_quantile's
  // fixed linear grid: a linear grid needs the value range up front and its
  // error is ABSOLUTE (a 16-wide bin is useless at value 40 and wasteful at
  // 40,000), while log buckets cover any magnitude with the same ±12.5%
  // relative error. Bucket of cents c ≥ 1: e = floor(log2 c) computed as
  // length(bin(c)) − 1 — an exact INTEGER in both engines, never a float
  // log — refined by the top-two mantissa bits sub = c div 2^(e−2) − 4,
  // i.e. boundaries at (4+s)·2^(e−2): γ = 2^(1/4)-style sub-bucketing with
  // exact power-of-two edges. q(p) reports the first bucket's UPPER edge
  // whose cumulative count reaches ceil(p·n) (sketch_quantile's rank rule)
  // — an exact BIGINT on the cents lattice. Scale shape: the sketch is a
  // map-side-combinable count over ≤ 4·64 buckets per flag — constant
  // per-partition state, mergeable by addition; the cumulative window runs
  // over the report-sized bucket table, never the corpus.
  def sketchLogHistogram(spark: SparkSession, d: String): DataFrame = {
    def rank(p: Int) = expr(s"(n * $p + 99) div 100")
    val c = Tables.lineitem(spark, d)
      .select(col("l_returnflag"),
        graft.functions.FastRound.cents(col("l_extendedprice")).as("c"))
      .withColumn("e", (length(expr("bin(c)")) - 1).cast("long"))
      .withColumn("sub",
        when(col("e") >= 2, expr("c div shiftleft(CAST(1 AS BIGINT), CAST(e - 2 AS INT)) - 4"))
          .otherwise(lit(0L)))
    val buckets = c.groupBy("l_returnflag", "e", "sub")
      .agg(count(lit(1)).as("cnt"))
      // exact-integer bucket upper edge: (5+sub)·2^(e−2) for e ≥ 2, else 2^(e+1)
      .withColumn("ub",
        when(col("e") >= 2,
          expr("(5 + sub) * shiftleft(CAST(1 AS BIGINT), CAST(e - 2 AS INT))"))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), CAST(e + 1 AS INT))")))
    val n = buckets.groupBy("l_returnflag").agg(sum(col("cnt")).as("n"))
    val wcum = Window.partitionBy("l_returnflag").orderBy("e", "sub")
    buckets
      .withColumn("cum", sum(col("cnt")).over(wcum))
      .join(n, Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_buckets"),
        min(when(col("cum") >= rank(50), col("ub"))).as("p50_est_c"),
        min(when(col("cum") >= rank(95), col("ub"))).as("p95_est_c"),
        min(when(col("cum") >= rank(99), col("ub"))).as("p99_est_c"))
      .join(n, Seq("l_returnflag"))
      .select("l_returnflag", "n", "n_buckets", "p50_est_c", "p95_est_c", "p99_est_c")
      .orderBy("l_returnflag")
  }

  val sketchLogHistogramSql: String =
    """WITH v AS (SELECT l_returnflag, CAST(round(l_extendedprice*100) AS BIGINT) AS c
      | FROM lineitem),
      |g AS (SELECT l_returnflag, c, CAST(length(bin(c)) - 1 AS BIGINT) AS e FROM v),
      |s AS (SELECT l_returnflag, e,
      |  CASE WHEN e >= 2 THEN c // (CAST(1 AS BIGINT) << CAST(e - 2 AS INT)) - 4
      |       ELSE 0 END AS sub
      | FROM g),
      |b AS (SELECT l_returnflag, e, sub, count(*) AS cnt,
      |  CASE WHEN e >= 2 THEN (5 + sub) * (CAST(1 AS BIGINT) << CAST(e - 2 AS INT))
      |       ELSE (CAST(1 AS BIGINT) << CAST(e + 1 AS INT)) END AS ub
      | FROM s GROUP BY 1, 2, 3),
      |n AS (SELECT l_returnflag, CAST(sum(cnt) AS BIGINT) AS n FROM b GROUP BY 1),
      |cum AS (SELECT l_returnflag, e, sub, cnt, ub,
      |  CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY e, sub) AS BIGINT) AS cum
      | FROM b),
      |est AS (SELECT c.l_returnflag, count(*) AS n_buckets,
      |  min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN ub END) AS p50_est_c,
      |  min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN ub END) AS p95_est_c,
      |  min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN ub END) AS p99_est_c
      | FROM cum c JOIN n ON c.l_returnflag = n.l_returnflag GROUP BY 1)
      |SELECT est.l_returnflag, n.n, n_buckets, p50_est_c, p95_est_c, p99_est_c
      |FROM est JOIN n ON est.l_returnflag = n.l_returnflag
      |ORDER BY est.l_returnflag""".stripMargin

  // --- sketch_ams ---------------------------------------------------------
  // AMS (Alon–Matias–Szegedy) "tug-of-war" sketch for the second frequency
  // moment F2 = Σ_k n_k² of user_id traffic per event_type — the one-pass
  // self-join-size / skew estimator (F2 is exactly the row count of a
  // self-equijoin on the key, and F2 ≫ n²/|keys| means a hot key; this is
  // the cheap screen that justifies q_salted_agg before any shuffle is
  // attempted). Construction: 64 ±1 estimators carved from ONE md5 per row
  // (bit j of the 64-bit prefix → sign_j; the carve-independent-bits trick
  // shared with sketch_bloom/minhash_sig), maintained as 64 integer
  // counters in a single combinable aggregate — NO row explosion, constant
  // 64-long state per (partition, type) merged by addition. Estimate =
  // median of 4 means of 16 squared counters (the textbook median-of-means
  // form); counters and squared-sums are exact BIGINTs, so the only float
  // steps are the four /16.0 means and the final median — a fixed double
  // tree both engines evaluate identically. Exact F2 (per-key aggregate)
  // rides along for calibration like sketch_hll/cms.
  private val AmsS = 64 // estimators (bits of one md5 prefix)

  def sketchAms(spark: SparkSession, d: String): DataFrame = {
    // Parse the 64-bit md5 prefix ONCE per row as two 32-bit halves (conv of
    // an 8-hex-char slice fits a signed long; the full 16 chars would not),
    // then carve each estimator's sign with a shift+mask on those longs.
    // The r9 form re-parsed one hex CHAR per estimator — 64 substring+conv
    // calls per row — for bits that were already adjacent in the same
    // number. Bit layout is IDENTICAL to the per-char form: estimator j
    // reads bit (j%4) of the nibble at hex position j/4, which inside
    // conv(chars p..p+7) sits at bit 4*(7 - (j/4 - 8*half)) + j%4.
    val ev = Tables.events(spark, d)
      .select(col("event_type"), md5(col("user_id").cast("string")).as("h"))
      .select(col("event_type"),
        conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("hi"),
        conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("lo"))
    def signJ(j: Int) = {
      val half = if (j < 32) col("hi") else col("lo")
      val shift = 4 * (7 - (j / 4) % 8) + j % 4
      when(shiftright(half, shift).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)
    }
    val counters = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        (0 until AmsS).map(j => sum(signJ(j)).as(s"c$j")): _*)
    val means = (0 until 4).map { g =>
      ((16 * g until 16 * (g + 1)).map(j => col(s"c$j") * col(s"c$j"))
        .reduce(_ + _).cast("double") / 16.0).as(s"m$g")
    }
    val exact = Tables.events(spark, d).groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type").agg(sum(col("n") * col("n")).as("f2_exact"))
      .withColumnRenamed("event_type", "et")
    val est = counters.select(col("event_type") +: col("n_events") +: means: _*)
      .withColumn("srt", array_sort(array(col("m0"), col("m1"), col("m2"), col("m3"))))
      .select(col("event_type"), col("n_events"),
        ((element_at(col("srt"), 2) + element_at(col("srt"), 3)) / 2.0).as("ams_est"))
    est.join(exact, col("event_type") === col("et"))
      .select(col("event_type"), col("n_events"), col("f2_exact"), col("ams_est"))
      .orderBy("event_type")
  }

  val sketchAmsSql: String = {
    def nib(j: Int) =
      s"(strpos('0123456789abcdef', substr(h, ${j / 4 + 1}, 1)) - 1)"
    val sums = (0 until AmsS).map(j =>
      s"  CAST(sum(CASE WHEN (${nib(j)} >> ${j % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS c$j")
      .mkString(",\n")
    val meansSql = (0 until 4).map { g =>
      val sq = (16 * g until 16 * (g + 1)).map(j => s"c$j*c$j").mkString(" + ")
      s"  CAST($sq AS DOUBLE) / 16.0 AS m$g"
    }.mkString(",\n")
    s"""WITH hv AS (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
       |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       |$sums
       | FROM hv GROUP BY 1),
       |m AS (SELECT event_type, n_events,
       |$meansSql
       | FROM c),
       |e AS (SELECT event_type, CAST(sum(n*n) AS BIGINT) AS f2_exact FROM (
       |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2) GROUP BY 1),
       |s AS (SELECT event_type, n_events,
       |  list_sort([m0, m1, m2, m3]) AS srt FROM m)
       |SELECT s.event_type, s.n_events, e.f2_exact,
       | (srt[2] + srt[3]) / 2.0 AS ams_est
       |FROM s JOIN e ON s.event_type = e.event_type
       |ORDER BY s.event_type""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sketch_log_histogram" -> sketchLogHistogram,
    "sketch_ams" -> sketchAms,
    "sketch_theta" -> sketchTheta,
    "sketch_jaccard" -> sketchJaccard,
    "sketch_jaccard_calib" -> sketchJaccardCalib,
    "sketch_hll" -> sketchHll,
    "sketch_hll_union" -> sketchHllUnion,
    "sketch_hll_intersection" -> sketchHllIntersection,
    "sketch_quantile" -> sketchQuantile,
    "sketch_quantile_calib" -> sketchQuantileCalib,
    "sketch_cms" -> sketchCms,
    "sketch_bloom" -> sketchBloom,
    "sketch_bloom_join" -> sketchBloomJoin,
    "sketch_bloom_join_calib" -> sketchBloomJoinCalib)

  val oracle: Map[String, String] = Map(
    "sketch_log_histogram" -> sketchLogHistogramSql,
    "sketch_ams" -> sketchAmsSql,
    "sketch_theta" -> sketchThetaSql,
    "sketch_jaccard" -> sketchJaccardSql,
    "sketch_jaccard_calib" -> sketchJaccardCalibSql,
    "sketch_hll" -> sketchHllSql,
    "sketch_hll_union" -> sketchHllUnionSql,
    "sketch_hll_intersection" -> sketchHllIntersectionSql,
    "sketch_quantile" -> sketchQuantileSql,
    "sketch_quantile_calib" -> sketchQuantileCalibSql,
    "sketch_cms" -> sketchCmsSql,
    "sketch_bloom" -> sketchBloomSql,
    "sketch_bloom_join" -> sketchBloomJoinSql,
    "sketch_bloom_join_calib" -> sketchBloomJoinCalibSql)
}
