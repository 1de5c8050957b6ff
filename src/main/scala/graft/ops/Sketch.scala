package graft.ops

import graft.functions.HashFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed sketches for 100 TB profiling. */
object Sketch {

  /** `round(alpha_1024 · 1024² · 2⁵² · 10)` as an exact 23-digit
    * integer (alpha_1024 = 0.7213/(1 + 1.079/1024), Flajolet et al.
    * 2007). Precomputed with rational arithmetic so NO engine ever
    * evaluates the float alpha formula: the estimate is this constant
    * integer-divided by `hll_reg_sum`, and integer division of exact
    * integers is bit-identical everywhere.
    */
  val HllEstNumX10 = "34026575266414862609245"

  /** HyperLogLog distinct-count estimate per key group, built entirely
    * from integer operations so the WHOLE sketch is oracle-exact
    * (bit-identical on any engine and any partitioning) — unlike
    * `approx_count_distinct`, whose HLL++ internals have no DuckDB
    * twin. m = 1024 registers: bucket = low 10 bits of
    * [[HashFns.hash61]], rho = leading-zero rank of the remaining 51
    * bits (via `length(bin(w))` — integer, no float log), register =
    * max(rho). The harmonic denominator Σ 2^(-reg) is kept as the
    * EXACT integer Σ 2^(52-reg) (max 1024·2^52 < 2^63, and integer
    * addition is associative, so partial-aggregation order can never
    * change it). Empty buckets contribute 2^52 each (register 0).
    *
    * Returns one row per key: (key..., hll_reg_sum BIGINT — the exact
    * scaled denominator, a mergeable fingerprint of the register
    * table — and hll_est_x10 BIGINT, the raw HLL estimate ×10 as
    * [[HllEstNumX10]] div hll_reg_sum). There is deliberately NO
    * floating-point step anywhere: a prior float form
    * (round(double, 1) of a float division) hashed differently across
    * DuckDB builds whose round() last-ulp behavior differs, which no
    * local check can catch — integer division is exact by
    * construction. No small-range linear-counting correction either:
    * it needs ln(), the same engine-sensitive class — raw HLL keeps
    * the oracle exact, at the cost of the known low-cardinality bias.
    *
    * Scale shape: one projection (hash + two bit ops), then two
    * aggregations with map-side partial max/sum — per-key state is
    * ≤1024 registers regardless of corpus size, the entire point of
    * the sketch. max is idempotent and associative, so the same
    * register tables merge across days/shards for free.
    */
  /** Sparse (keys..., bucket, reg) register rows — THE single
    * definition of the hash → bucket → rank derivation, shared by the
    * scalar ([[hllDistinct]]) and register-table ([[hllRegisters]])
    * forms (and mirrored natively by
    * `graft.streaming.Stateful.hllRunning`).
    */
  private def sparseRegs(df: DataFrame, keyCols: Seq[String],
                         value: Column): DataFrame = {
    val keys = keyCols.map(col)
    val h = HashFns.hash61(value)
    val w = shiftright(h, 10)
    val rho = when(w === 0, lit(52)).otherwise(lit(52) - length(bin(w)))
    df.select(keys :+ h.bitwiseAND(lit(1023L)).as("bucket") :+ rho.as("rho"): _*)
      .groupBy(keys :+ col("bucket"): _*)
      .agg(max("rho").as("reg"))
  }

  def hllDistinct(df: DataFrame, keyCols: Seq[String],
                  value: Column): DataFrame = {
    val keys = keyCols.map(col)
    sparseRegs(df, keyCols, value)
      .groupBy(keys: _*)
      .agg((sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(52 - reg AS INT))")) +
        (lit(1024L) - count(lit(1))) * lit(1L << 52)).as("hll_reg_sum"))
      .withColumn("hll_est_x10", hllEstX10("hll_reg_sum"))
  }

  /** est×10 as BIGINT: [[HllEstNumX10]] integer-divided by the named
    * register-sum column — the oracle-exact estimate form.
    *
    * Overflow ceiling, for the record: hll_reg_sum ≥ 1024 by
    * construction (1024 registers, each contributing ≥ 2^0), so
    * est_x10 ≤ HllEstNumX10/1024 ≈ 3.3e19 > Long.MaxValue only when
    * reg_sum < ~3690 — which requires ~2^49+ distinct values in ONE
    * key group. Practically unreachable (that's half a petabyte of
    * 1-byte tokens in one group); below that bound all three forms
    * (this DECIMAL div, the streaming BigInt division in
    * `Stateful.hllRunning`, and the DuckDB HUGEINT `//` twin) are
    * exact and identical. Not clamped: a clamp would add a branch to
    * the hashed surface for a region no real corpus reaches.
    */
  def hllEstX10(regSumCol: String): Column =
    expr(s"CAST('$HllEstNumX10' AS DECIMAL(38,0)) div $regSumCol")

  /** Engine-side convenience: the estimate as a plain double (est_x10
    * / 10). NOT oracle-hashed — floats stay out of the verified
    * surface by design.
    */
  def hllEstimate(estX10: Column): Column = estX10.cast("double") / 10.0

  /** Reassemble a dense 1024-slot register array from sparse
    * (bucket, reg) rows: map-index the observed buckets, 0 for empty.
    * collect_list is bounded at ≤1024 entries per key by construction
    * (post-max over buckets), so per-key state is ~1 KiB regardless of
    * corpus size.
    */
  private def assembleRegs(sparse: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    sparse
      .groupBy(keys: _*)
      .agg(map_from_entries(collect_list(struct(
        col("bucket").cast("int").as("b"), col("reg").cast("tinyint").as("r"))))
        .as("m"))
      .select(keys :+ transform(sequence(lit(0), lit(1023)),
        i => coalesce(element_at(col("m"), i), lit(0).cast("tinyint")))
        .as("hll_regs"): _*)
  }

  /** The full register table as a column: one row per key with
    * `hll_regs array<tinyint>[1024]`. This is the MERGEABLE form of
    * [[hllDistinct]] — element-wise max combines sketches across
    * shards/days/corpora without rescanning history (max is
    * idempotent, commutative, associative). ~1 KiB per key; store it
    * next to daily partition stats and fold with
    * [[hllMergeRegisters]].
    */
  def hllRegisters(df: DataFrame, keyCols: Seq[String],
                   value: Column): DataFrame =
    assembleRegs(sparseRegs(df, keyCols, value), keyCols)

  /** Merge register tables: many `hll_regs` rows per key → one, by
    * element-wise max. Runs as posexplode → map-side-partial max on
    * (key, bucket) → reassemble, so the shuffle carries at most
    * 1024 × distinct-keys tiny rows — sketch tables are already one
    * row per key, this is metadata-scale work.
    */
  def hllMergeRegisters(df: DataFrame, keyCols: Seq[String],
                        regsCol: String = "hll_regs"): DataFrame = {
    val keys = keyCols.map(col)
    val sparse = df
      .select(keys :+ posexplode(col(regsCol)).as(Seq("bucket", "reg")): _*)
      .groupBy(keys :+ col("bucket"): _*)
      .agg(max("reg").as("reg"))
    assembleRegs(sparse, keyCols)
  }

  /** The k bloom positions of element hash `x61`, exploded to one row
    * per position and packed to (widx, mask) — the BUILD-side layout
    * ([[bloomWords]] ORs the masks per word). The probe side evaluates
    * the same position family without exploding ([[bloomMaybe]]);
    * `SketchSpec` pins the two forms against each other so they cannot
    * drift. `carry` columns pass through. Bit 63 relies on Spark's
    * shiftleft wrap to Long.MinValue — the DuckDB twin writes that
    * sign bit explicitly (DuckDB overflow-checks 1<<63).
    */
  def bloomCells(items: DataFrame, carry: Seq[Column], x61: Column,
                 mBits: Int, k: Int): DataFrame =
    items
      .select(carry :+ explode(array((0 until k).map(j =>
        HashFns.hashAt(x61, j) % mBits): _*)).as("pos"): _*)
      .select(carry :+ shiftright(col("pos"), 6).cast("int").as("widx") :+
        call_function("shiftleft", lit(1L),
          col("pos").bitwiseAND(lit(63L)).cast("int")).as("mask"): _*)

  /** Bloom filter over the 2-universal position family, as a sparse
    * (widx INT, word BIGINT) table: position j of element hash x is
    * `hashAt(x, j) mod mBits` ([[HashFns.hashAt]] — the same md5 +
    * multiply-add family every oracle query uses, so the filter is
    * integer-exact and DuckDB-twinnable). mBits/64 words ≈ KBs —
    * broadcast to the probe side, the CONSTANT-SIZE alternative to
    * broadcasting an exact key set that grows with the reference
    * corpus. Mergeable: OR is idempotent/commutative/associative
    * ([[bloomMerge]]), so per-shard/per-day filters fold without
    * rescanning. `x61` must be the 61-bit element hash (e.g.
    * `HashFns.hash61(value)`).
    */
  def bloomWords(items: DataFrame, x61: Column, mBits: Int, k: Int): DataFrame =
    bloomWordsBy(items, Seq.empty, x61, mBits, k)

  /** Per-key bloom word tables — one independent filter per key group
    * (e.g. one per eval benchmark), built in ONE pass over the keyed
    * element table: the multi-benchmark decontamination shape, where K
    * suites cost K·mBits/8 bytes of filter instead of K exact sets.
    * Same position family and (widx, word) layout as [[bloomWords]]
    * with the keys carried through; each key's rows are exactly the
    * filter [[bloomWords]] would build on that key's slice.
    */
  def bloomWordsBy(items: DataFrame, keyCols: Seq[String], x61: Column,
                   mBits: Int, k: Int): DataFrame =
    bloomCells(items, keyCols.map(col), x61, mBits, k)
      .groupBy(keyCols.map(col) :+ col("widx"): _*)
      .agg(expr("bit_or(mask)").as("word"))

  /** Merge bloom word tables by bitwise OR — merge(A, B) equals the
    * filter built on A ∪ B exactly.
    */
  def bloomMerge(words: Seq[DataFrame]): DataFrame =
    words.reduce(_ unionByName _)
      .groupBy("widx").agg(expr("bit_or(word)").as("word"))

  /** The sparse (widx, word) table densified to ONE row holding the
    * whole bitmap as `bloom_words array<bigint>[mBits/64]` (absent
    * words are 0). mBits/64 ≤ 1024 at the default — 8 KiB — so the
    * single row broadcasts for free and the probe side never joins:
    * it cross-joins this row once and tests membership per shingle in
    * a single codegen'd projection ([[bloomMaybe]]), instead of
    * exploding k position rows and shuffling them back together.
    */
  def bloomDense(words: DataFrame, mBits: Int): DataFrame =
    bloomDenseBy(words, Seq.empty, mBits)

  /** Per-key [[bloomDense]]: one row per key holding that key's whole
    * bitmap — a K-row table for K filters, still KBs, still broadcast
    * material for a single-projection probe against every filter at
    * once.
    */
  def bloomDenseBy(words: DataFrame, keyCols: Seq[String],
                   mBits: Int): DataFrame = {
    val keys = keyCols.map(col)
    val grouped =
      if (keyCols.isEmpty) words.groupBy()
      else words.groupBy(keys: _*)
    grouped
      .agg(map_from_entries(collect_list(struct(
        col("widx"), col("word")))).as("m"))
      .select(keys :+ transform(sequence(lit(0), lit(mBits / 64 - 1)),
        i => coalesce(element_at(col("m"), i), lit(0L))).as("bloom_words"): _*)
  }

  /** Membership test of element hash `x61` against a dense bitmap
    * column ([[bloomDense]]), all k positions in one expression:
    * AND over j of `(words[pos_j / 64] & (1 << (pos_j % 64))) ==
    * mask`. Every operand is a plain codegen'd expression (element_at
    * on a 1024-slot array is O(1)), so the whole probe stays inside
    * whole-stage codegen — no explode, no join, no pre-aggregation.
    * Position family identical to [[bloomCells]] (hashAt mod mBits;
    * bit 63 via Spark shiftleft wrap), so build and probe cannot
    * drift.
    */
  def bloomMaybe(x61: Column, denseCol: Column, mBits: Int, k: Int): Column =
    (0 until k).map { j =>
      val pos = HashFns.hashAt(x61, j) % mBits
      val mask = call_function("shiftleft", lit(1L),
        pos.bitwiseAND(lit(63L)).cast("int"))
      element_at(denseCol, shiftright(pos, 6).cast("int") + 1)
        .bitwiseAND(mask) === mask
    }.reduce(_ && _)

  /** Count-min sketch as a sparse (row INT, col INT, cnt BIGINT)
    * counter table: element hash x increments cell
    * (j, hashAt(x, j) mod w) for j < d. Point estimate = min over the
    * d cells — NEVER an undercount (collisions only add), bounded
    * overcount with the usual (d, w) guarantees. Integer sums through
    * the oracle-exact hash family end to end, and mergeable by
    * cell-wise ADD ([[cmsMerge]]): per-shard/per-day sketches fold
    * into the exact union-corpus sketch, which is the point — frequency
    * profiling over 100 TB keeps d·w counters, not a token dictionary.
    */
  def cmsCounts(items: DataFrame, x61: Column, w: Int, d: Int): DataFrame =
    cmsCountsBy(items, Seq.empty, x61, w, d)

  /** Per-key count-min sketches — one independent d×w counter table
    * per key group (per-language / per-source frequency profiles),
    * built in one pass with the keys carried through. Each key's rows
    * are exactly the sketch [[cmsCounts]] builds on that key's slice;
    * keyed merge via [[cmsMergeBy]].
    */
  def cmsCountsBy(items: DataFrame, keyCols: Seq[String], x61: Column,
                  w: Int, d: Int): DataFrame = {
    val keys = keyCols.map(col)
    items
      .select(keys :+ explode(array((0 until d).map(j =>
        struct(lit(j).as("row"),
          (HashFns.hashAt(x61, j) % w).cast("int").as("col"))): _*)).as("cell"): _*)
      .groupBy(keys :+ col("cell.row").as("row") :+ col("cell.col").as("col"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge count-min counter tables by cell-wise sum — merge(A, B)
    * equals the sketch built on the concatenation of A and B exactly.
    */
  def cmsMerge(sketches: Seq[DataFrame]): DataFrame =
    cmsMergeBy(sketches, Seq.empty)

  /** Keyed [[cmsMerge]]: cell-wise sum within each key group. */
  def cmsMergeBy(sketches: Seq[DataFrame], keyCols: Seq[String]): DataFrame =
    sketches.reduce(_ unionByName _)
      .groupBy(keyCols.map(col) :+ col("row") :+ col("col"): _*)
      .agg(sum("cnt").cast("long").as("cnt"))

  // ------------------------------------------------------------------ //
  // KMV (k minimum values) distinct sketch                              //
  // ------------------------------------------------------------------ //

  /** Numerator of the KMV estimate ×10 as an exact integer string:
    * (k−1)·10·2^61 — [[graft.functions.HashFns.hash61]] is uniform on
    * [0, 2^61), so D̂ = (k−1)·2^61 / h_(k) (Bar-Yossef et al. 2002).
    * Embedded as a DECIMAL/HUGEINT literal so the estimate is integer
    * division of exact integers — bit-identical on any engine, the same
    * no-float construction as [[HllEstNumX10]].
    */
  def kmvEstNumX10(k: Int): String = ((BigInt(1) << 61) * (k - 1) * 10).toString

  /** KMV distinct sketch per key group: the k smallest DISTINCT 61-bit
    * element hashes, ascending, as `kmv array<bigint>` (fewer than k
    * when the group has fewer distinct hashes). The order-statistics
    * dual of [[hllDistinct]]: better relative error per byte at small
    * k·|D|, and the sketch VALUES double as a uniform sample of the
    * distinct elements' hashes (useful for downstream Jaccard — the
    * bottom-k of a union is computable from bottom-k's alone).
    *
    * Scale shape: hash + distinct (map-side partial) shrinks the corpus
    * to its distinct-hash set; the per-key bottom-k then runs as a
    * row_number window over that reduced set, and the collected sketch
    * is bounded at k·8 bytes per key by construction. Mergeable:
    * [[kmvMerge]] — every global bottom-k element is inside its own
    * shard's bottom-k, so merge(bottomK(A), bottomK(B)) = bottomK(A∪B)
    * exactly, the incremental-profiling contract.
    */
  def kmvSketch(df: DataFrame, keyCols: Seq[String], value: Column,
                k: Int): DataFrame =
    // no distinct() pass: the one-pass aggregate dedups internally, so
    // the raw hash stream folds straight into ≤k-long buffers
    kmvFromHashes(
      df.select(keyCols.map(col) :+ HashFns.hash61(value).as("h"): _*),
      keyCols, col("h"), k)

  /** [[kmvSketch]] over a pre-hashed (keys..., hash) table — the
    * shared-scan form: a caller that also needs the hash set for other
    * work (exact-Jaccard anchors, per-key distinct counts) builds it
    * once and passes it here. ONE aggregation via
    * [[graft.plans.KmvAggregate]]: map-side partial bottom-k buffers,
    * at most k longs per (group, map partition) cross the shuffle —
    * the `row_number` window construction this replaced shuffled EVERY
    * distinct hash to one reducer per key to rank it, a per-key sort
    * that cannot survive 100 TB key cardinality skew. Duplicates are
    * folded inside the aggregate, so the input needs no distinct().
    * Output bit-identical to the ranked form on any partitioning
    * (bottom-k of a set is partition-invariant — `KmvAggSpec` pins the
    * two constructions against each other).
    */
  def kmvFromHashes(hx: DataFrame, keyCols: Seq[String], hashCol: Column,
                    k: Int): DataFrame =
    hx.groupBy(keyCols.map(col): _*)
      .agg(graft.plans.KmvAgg.kmv_sketch(hashCol, k).as("kmv"))

  /** The relational `row_number`-window construction of
    * [[kmvFromHashes]] — kept as the independent cross-check the
    * aggregate is differentially specced against (and as the form an
    * engine without imperative aggregates would run). Expects a
    * DISTINCT (keys..., hash) input.
    */
  def kmvFromHashesRanked(hx: DataFrame, keyCols: Seq[String],
                          hashCol: Column, k: Int): DataFrame = {
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(hashCol)
    hx.select(keys :+ hashCol.as("h") :+ row_number().over(w).as("rn"): _*)
      .where(col("rn") <= k)
      .groupBy(keys: _*)
      .agg(sort_array(collect_list(col("h"))).as("kmv"))
  }

  /** Merge KMV sketches: many `kmv` rows per key → one, as the k
    * smallest of the distinct union of all values. Exact: the union of
    * per-shard bottom-k's contains every global bottom-k element. Each
    * input row is ≤ k values and rows-per-key is the shard count, so
    * per-key merge state is tiny (tree-merge per day/shard level if the
    * shard count itself ever grows large).
    */
  def kmvMerge(df: DataFrame, keyCols: Seq[String], k: Int,
               kmvCol: String = "kmv"): DataFrame = {
    val keys = keyCols.map(col)
    df.groupBy(keys: _*)
      .agg(slice(array_sort(array_distinct(flatten(collect_list(col(kmvCol))))),
        1, k).as("kmv"))
  }

  /** Bottom-k of the UNION of two KMV sketch columns — the k smallest
    * of the distinct concatenation. Exact for the same reason
    * [[kmvMerge]] is: every union bottom-k element is inside one of the
    * operand sketches. Pure array expression over ≤2k elements, so a
    * pairwise profile over S sources/languages costs O(S²·k) driver-free
    * work on S rows — constant per pair regardless of corpus size.
    */
  def kmvUnionK(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_distinct(concat(a, b))), 1, k)

  /** |U ∩ A ∩ B| for the KMV Jaccard estimator (Beyer et al. 2007):
    * with U = [[kmvUnionK]](A, B, k), match/|U| estimates J(A, B) —
    * the sketch values double as a uniform sample of the union's
    * distinct hashes, and a sampled hash is in both sets iff it is in
    * both sketches (bottom-k membership is hash-order-determined).
    * Emitted as BIGINT so the estimate's exact integer ingredients sit
    * in the oracle surface; the float ratio stays downstream.
    */
  def kmvMatchCount(u: Column, a: Column, b: Column): Column =
    size(filter(u, e => array_contains(a, e) && array_contains(b, e)))
      .cast("bigint")

  /** Exact |A ∩ B| for every unordered key pair, from a DISTINCT
    * (key, x) element table: group by element, collect the ≤S keys
    * holding it (sorted), expand each row's C(|ks|, 2) pairs, count
    * per pair. ONE aggregation on the element plus a bounded per-row
    * expansion — the equi-self-join form this replaces shuffled the
    * element table TWICE and built a join hash map over one copy; at
    * S small (languages, sources) the collect_set is ≤S entries and
    * the pair fan-out ≤C(S,2). Returns (ia, ib, ni) with ia < ib.
    */
  /** All C(|ks|, 2) ordered pairs of a SORTED array column as
    * (ia, ib) structs, ia < ib — the bounded per-row expansion shared
    * by [[pairIntersections]] and the posting-list candidate
    * generators (containment, fuzzy matching).
    */
  def pairStructs(ks: Column): Column =
    flatten(transform(ks, (a, i) =>
      transform(slice(ks, i + lit(2), size(ks)),
        b => struct(a.as("ia"), b.as("ib")))))

  /** (ia, ib) pair ROWS from a sorted-distinct array column — every
    * unordered pair once (ia < ib by the array's sort order), via two
    * chained native generators (posexplode + slice) instead of
    * [[pairStructs]]' nested transform lambdas, which are interpreted
    * per element and dominate the pair stage when millions of posting
    * groups flow through (r15: q121's pair gen). Other columns of `df`
    * are dropped — callers aggregate on the pair immediately.
    */
  def explodePairRows(df: DataFrame, ksCol: String): DataFrame =
    df.select(col(ksCol).as("__ks"),
        posexplode(col(ksCol)).as(Seq("__pi", "ia")))
      .select(col("ia"),
        explode(slice(col("__ks"), col("__pi") + lit(2),
          size(col("__ks")))).as("ib"))

  def pairIntersections(hx: DataFrame, keyCol: String, xCol: String): DataFrame =
    explodePairRows(
      hx.groupBy(col(xCol))
        .agg(sort_array(collect_set(col(keyCol))).as("ks")), "ks")
      .groupBy(col("ia"), col("ib"))
      .agg(count(lit(1)).as("ni"))

  /** |U ∩ A ∖ B|: of the union-sample hashes, how many sit in sketch A
    * but not sketch B. With U = [[kmvUnionK]](a, b, k) this is the
    * difference-estimator counterpart of [[kmvMatchCount]] (Beyer et
    * al. 2007): U is a uniform sample of the union's distinct hashes,
    * and "in A only" is readable from the sketches alone, so
    * only/|U| · |A∪B| estimates |A ∖ B| — the set-algebra reading HLL
    * registers cannot express (HLL unions but never subtracts).
    */
  def kmvOnlyCount(u: Column, a: Column, b: Column): Column =
    size(filter(u, e => array_contains(a, e) && !array_contains(b, e)))
      .cast("bigint")

  /** Full set-operation readback over a pair table carrying `kmv_a` /
    * `kmv_b` sketch columns: appends the union sample (size + k-th
    * order statistic), the three membership counts (∩, A∖B, B∖A), and
    * exact-integer estimates ×10 of |A∪B|, |A∩B|, |A∖B|, |B∖A|.
    *
    * The estimate arithmetic is integer end to end, mirroring
    * [[kmvStats]]: when the union sample holds fewer than k hashes it
    * IS the union (counts are exact, est = count·10); at k, Û·10 =
    * [[kmvEstNumX10]] div h_(k), and each subset estimate is
    * count · Û·10 div k — products of exact integers under integer
    * division, bit-identical on any engine. Per pair this is O(k)
    * array work on one row; an S-source profile costs O(S²·k)
    * driver-free work regardless of corpus size.
    */
  /** Union estimate ×10 over (u_n, u_kth) columns as a generated SQL
    * string — div-parameterized so the Spark plan (`div`, DECIMAL)
    * and the DuckDB twin (`//`, HUGEINT) evaluate the IDENTICAL
    * arithmetic from ONE emitter (a hand-mirrored copy is exactly
    * where an integer-division drift would hide).
    */
  def kmvUnionEstX10Sql(k: Int, divOp: String = "div"): String =
    s"CAST(CASE WHEN u_n < $k THEN u_n * 10 " +
      s"ELSE ${kmvUEstSql(k, divOp)} END AS BIGINT)"

  /** Subset estimate ×10: `cnt` of the union sample scaled by the
    * union estimate — same shared-emitter contract.
    */
  def kmvScaledEstX10Sql(cnt: String, k: Int, divOp: String = "div"): String =
    s"CAST(CASE WHEN u_n < $k THEN $cnt * 10 " +
      s"ELSE ($cnt * (${kmvUEstSql(k, divOp)})) $divOp $k END AS BIGINT)"

  private def kmvUEstSql(k: Int, divOp: String): String = {
    val wide = if (divOp == "//") "HUGEINT" else "DECIMAL(38,0)"
    s"CAST('${kmvEstNumX10(k)}' AS $wide) $divOp greatest(u_kth, CAST(1 AS BIGINT))"
  }

  def kmvSetOpStats(pairs: DataFrame, k: Int): DataFrame = {
    val u = kmvUnionK(col("kmv_a"), col("kmv_b"), k)
    pairs
      .withColumn("u", u)
      .withColumn("u_n", size(col("u")).cast("bigint"))
      // guarded: element_at(u, 0) raises on an empty union (a pair of
      // all-NULL-input sketches); the estimates never read u_kth in
      // that branch (u_n = 0 < k), so NULL is safe
      .withColumn("u_kth",
        when(size(col("u")) > 0, element_at(col("u"), size(col("u"))))
          .otherwise(lit(null).cast("long")))
      .withColumn("kmv_match", kmvMatchCount(col("u"), col("kmv_a"), col("kmv_b")))
      .withColumn("kmv_a_only", kmvOnlyCount(col("u"), col("kmv_a"), col("kmv_b")))
      .withColumn("kmv_b_only", kmvOnlyCount(col("u"), col("kmv_b"), col("kmv_a")))
      .withColumn("union_est_x10", expr(kmvUnionEstX10Sql(k)))
      .withColumn("inter_est_x10", expr(kmvScaledEstX10Sql("kmv_match", k)))
      .withColumn("a_only_est_x10", expr(kmvScaledEstX10Sql("kmv_a_only", k)))
      .withColumn("b_only_est_x10", expr(kmvScaledEstX10Sql("kmv_b_only", k)))
      .drop("u")
  }

  /** Readback of a KMV sketch column into the oracle-exact surface:
    * kmv_n BIGINT (values held, = min(k, distinct hashes)), kmv_kth
    * BIGINT (the largest held value — the k-th order statistic when
    * full), kmv_est_x10 BIGINT (exact-count×10 when not full — the
    * sketch IS the distinct set then — else [[kmvEstNumX10]] div
    * kmv_kth). No float anywhere; `greatest(kth, 1)` guards the
    * measure-zero h_(k) = 0 case identically on both engines.
    */
  def kmvStats(df: DataFrame, k: Int, kmvCol: String = "kmv"): DataFrame =
    df.withColumn("kmv_n", size(col(kmvCol)).cast("bigint"))
      .withColumn("kmv_kth", element_at(col(kmvCol), size(col(kmvCol))))
      .withColumn("kmv_est_x10",
        when(col("kmv_n") < k, col("kmv_n") * 10)
          .otherwise(expr(s"CAST('${kmvEstNumX10(k)}' AS DECIMAL(38,0)) " +
            "div greatest(kmv_kth, CAST(1 AS BIGINT))")))

  // ------------------------------------------------------------------ //
  // Mergeable fixed-bin histogram                                       //
  // ------------------------------------------------------------------ //

  /** Fixed-bin histogram of a non-negative integer value as a sparse
    * (keys..., bin BIGINT, cnt BIGINT) table, bin = v div binWidth. The
    * mergeable distribution profile: cell-wise ADD combines per-shard /
    * per-day histograms into the exact union histogram ([[histMergeBy]]),
    * and the table is bounded by keys × value range — distribution
    * profiling over 100 TB keeps bins, not rows. Integer end to end.
    */
  def histogramBy(df: DataFrame, keyCols: Seq[String], value: Column,
                  binWidth: Long): DataFrame = {
    val keys = keyCols.map(col)
    df.select(keys :+ value.cast("bigint").as("__v"): _*)
      .select(keys :+ expr(s"__v div $binWidth").as("bin"): _*)
      .groupBy(keys :+ col("bin"): _*).agg(count(lit(1)).as("cnt"))
  }

  /** Unkeyed [[histogramBy]]: one global histogram. */
  def histogram(df: DataFrame, value: Column, binWidth: Long): DataFrame =
    histogramBy(df, Seq.empty, value, binWidth)

  /** Merge histograms by cell-wise sum — merge(A, B) equals the
    * histogram of the concatenation exactly (sum is associative).
    */
  def histMergeBy(hists: Seq[DataFrame], keyCols: Seq[String]): DataFrame =
    hists.reduce(_ unionByName _)
      .groupBy(keyCols.map(col) :+ col("bin"): _*)
      .agg(sum("cnt").cast("long").as("cnt"))

  /** Unkeyed [[histMergeBy]]. */
  def histMerge(hists: Seq[DataFrame]): DataFrame =
    histMergeBy(hists, Seq.empty)

  /** Integer quantile readback: per key group and pct, the smallest bin
    * whose cumulative count reaches target_rank = ceil(pct·N/100),
    * emitted as (keys..., pct, target_rank, bin, bin_lo = bin·binWidth)
    * — all BIGINT, all integer arithmetic, so the readback is
    * oracle-exact (unlike percentile_approx, whose sketch internals
    * have no DuckDB twin). The cumulative window runs over the
    * HISTOGRAM (≤ keys × range/binWidth rows — metadata scale), never
    * the data, so a window partitioned only by the profile keys is
    * deliberate.
    */
  def histQuantilesBy(hist: DataFrame, keyCols: Seq[String], binWidth: Long,
                      pcts: Seq[Int]): DataFrame = {
    val keys = keyCols.map(col)
    val cum = hist.select(keys :+ col("bin") :+ col("cnt") :+
      sum("cnt").over(Window.partitionBy(keys: _*).orderBy("bin")).as("cum") :+
      sum("cnt").over(Window.partitionBy(keys: _*)).as("total"): _*)
    cum
      .select(keys :+ col("bin") :+ col("cum") :+ col("total") :+
        explode(array(pcts.map(p => lit(p.toLong)): _*)).as("pct"): _*)
      .withColumn("target_rank", expr("(pct * total + 99) div 100"))
      .where(col("cum") >= col("target_rank"))
      .groupBy(keys :+ col("pct") :+ col("target_rank"): _*)
      .agg(min("bin").as("bin"))
      .withColumn("bin_lo", col("bin") * binWidth)
  }

  /** Unkeyed [[histQuantilesBy]]: global quantiles. */
  def histQuantiles(hist: DataFrame, binWidth: Long,
                    pcts: Seq[Int]): DataFrame =
    histQuantilesBy(hist, Seq.empty, binWidth, pcts)

  // ------------------------------------------------------------------ //
  // Mergeable top-k summary (per-shard exact top-k' + threshold bound)  //
  // ------------------------------------------------------------------ //

  /** Per-shard mergeable top-k summary over exact (keys..., shard,
    * item, cnt) counts: keep each shard's kPrime highest-count items
    * (count DESC, item ASC tie-break — fully deterministic) and attach
    * the shard THRESHOLD `thr` = the smallest kept count (0 when the
    * shard holds fewer than kPrime items, i.e. nothing was dropped).
    * Any item a shard dropped has true count ≤ that shard's thr — the
    * invariant [[topkMerge]] turns into per-item error bounds. This is
    * the distributed approximate top-k every serving layer ships
    * (Druid/Presto `approx_most_frequent` shape): shards summarize
    * locally, only kPrime rows per (key, shard) ever cross the
    * network, and unlike count-min the summary carries its own error
    * certificate. Integer end to end.
    */
  def topkSummary(counts: DataFrame, keyCols: Seq[String], shardCol: String,
                  itemCol: String, cntCol: String, kPrime: Int): DataFrame = {
    val part = (keyCols :+ shardCol).map(col)
    val ranked = Window.partitionBy(part: _*)
      .orderBy(col(cntCol).desc, col(itemCol).asc)
    val whole = Window.partitionBy(part: _*)
    counts
      .withColumn("__rn", row_number().over(ranked))
      .where(col("__rn") <= kPrime)
      .withColumn("thr",
        when(count(lit(1)).over(whole) < kPrime, lit(0L))
          .otherwise(min(col(cntCol)).over(whole)))
      .drop("__rn")
  }

  /** Merge per-shard [[topkSummary]] rows into per-item bounds:
    * est_lo = Σ counts from shards that kept the item (every kept
    * count is exact, so est_lo ≤ true count), est_hi = est_lo +
    * Σ thr over shards that did NOT keep it (each such shard holds at
    * most thr occurrences, so true count ≤ est_hi). The merge is a
    * grouped sum over kPrime × S rows per key — summary scale, never
    * a token-dictionary shuffle. Emits (keys..., item, est_lo BIGINT,
    * est_hi BIGINT); rank downstream by est_lo (deterministic — every
    * input is an exact integer).
    */
  def topkMerge(summary: DataFrame, keyCols: Seq[String], shardCol: String,
                itemCol: String, cntCol: String): DataFrame = {
    val keys = keyCols.map(col)
    // thr is constant per (key, shard); total it once per key
    val thrTot = summary
      .groupBy((keyCols :+ shardCol).map(col): _*).agg(max("thr").as("__thr_s"))
      .groupBy(keys: _*).agg(sum("__thr_s").cast("long").as("__thr_tot"))
    val merged = summary
      .groupBy(keys :+ col(itemCol): _*)
      .agg(sum(col(cntCol)).cast("long").as("est_lo"),
        sum(col("thr")).cast("long").as("__thr_present"))
    (if (keyCols.isEmpty) merged.crossJoin(thrTot)
     else merged.join(thrTot, keyCols))
      .withColumn("est_hi",
        col("est_lo") + col("__thr_tot") - col("__thr_present"))
      .drop("__thr_tot", "__thr_present")
  }

  /** [[graft.functions.HllAgg]] as a callable aggregate column: a
    * ONE-PASS HLL over a 61-bit hash column — `groupBy(...)
    * .agg(Sketch.hllAgg(h).as("hll_reg_sum"))`. Same integer readback
    * as [[hllDistinct]] (differential-specced); use it where a single
    * aggregation matters: map-side 1 KiB partial buffers instead of
    * (key, bucket) shuffle rows, and single-stateful-operator
    * STREAMING WINDOWS (`groupBy(window(ts), key).agg(hllAgg(h))`
    * under a watermark — windowed distinct counts with append-mode
    * emission, which the two-aggregation column form cannot express).
    */
  lazy val hllAgg: org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(graft.functions.HllAgg, org.apache.spark.sql.Encoders.LONG)

  /** Collapse a register array to the exact integer denominator
    * Σ 2^(52-reg) — the same `hll_reg_sum` [[hllDistinct]] emits, so
    * a merged register table feeds the same integer-exact estimate:
    * `HllEstNumX10 div hllRegSum(regs)`.
    */
  def hllRegSum(regs: Column): Column =
    aggregate(regs, lit(0L),
      (acc, r) => acc + call_function("shiftleft", lit(1L), lit(52) - r.cast("int")))
}
