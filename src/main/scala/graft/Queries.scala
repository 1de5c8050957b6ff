package graft

import graft.dedup.{Curation, Dedup}
import graft.formats.{AvroCodec, ConfluentEnvelope, ProtoCodec}
import graft.functions.{HashFns, TextFns, VectorFns}
import graft.ops.{Dsir, Mixture, Ops, Pipeline, Profile, Scale, Sharding, Sketch, TextStats}
import graft.sim.Similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The oracle-facing query catalog: every entry here is registered in
  * `SparkEntry.queries`, and the SQL-expressible ones have a DuckDB
  * oracle in [[OracleSql]] (column names aligned exactly — the driver
  * hashes values under sorted column names).
  *
  * Determinism rules (so hashes are stable across engines):
  *  - every query ends in a total ORDER BY (unique key or full row);
  *  - double aggregates go through an exact DECIMAL sum and a final
  *    CAST(... AS DOUBLE), so Spark's and DuckDB's summation order
  *    cannot produce different floats;
  *  - integer outputs are BIGINT on both sides.
  *
  * Scale notes are on each query: what shuffles, what broadcasts, what
  * gets pushed down. Verified with `.explain("formatted")` (see
  * `PlanAudit`).
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  /** Exact decimal sum surfaced as double — associative, so identical
    * across engines and partitionings.
    */
  private def decSum(c: Column, dec: String): Column =
    sum(c.cast(s"decimal$dec")).cast("double")

  // ---------------------------------------------------------------- //
  // Relational core                                                  //
  // ---------------------------------------------------------------- //

  /** Scan + filter + project; filter and projection both push to the
    * parquet scan (PushedFilters + 4-column ReadSchema).
    */
  val q01_scan_filter_project: Q = (s, d) =>
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("2001-06-01").cast("timestamp"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** TPC-H Q1 shape: partial aggregation map-side, one shuffle on the
    * 2-value grouping key.
    */
  val q02_pricing_summary: Q = (s, d) => {
    // fanOut: the decimal partial aggregation is the CPU-heavy stage;
    // single-row-group local files scan as one split (no-op at scale)
    val l = Scale.fanOut(Tables.lineitem(s, d))
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    val qty = sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
    l.groupBy("l_returnflag", "l_linestatus")
      .agg(
        qty.as("sum_qty"),
        decSum(col("l_extendedprice"), "(18,2)").as("sum_base_price"),
        decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), "(22,4)")
          .as("sum_disc_price"),
        decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")),
          "(24,6)").as("sum_charge"),
        (qty / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Dimension joins: nation and region are tiny — both broadcast, so
    * the only shuffle is the final groupBy on r_name.
    */
  val q03_join_broadcast: Q = (s, d) =>
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_customers"),
        decSum(col("c_acctbal"), "(18,2)").as("total_acctbal"))
      .orderBy("r_name")

  /** Fact-fact join on the order key, with the fact side pre-aggregated
    * per order BEFORE the join (guide §2.3 "aggregate before you
    * shuffle"): the r14 shape joined raw lineitem (broadcast orders at
    * sf, SMJ at scale) and then paid a (priority, orderkey) exchange
    * for the countDistinct — plus two keyless fanOut round-robins, one
    * of which fed a broadcast and the other paid the
    * sort-before-repartition. Now lineitem fans out BY the join key
    * (one exchange serving both the spread and the per-order decimal
    * aggregation), orders joins the 4×-smaller per-order table, and
    * n_orders is a plain count (o_orderkey is unique, so the count of
    * joined per-order rows IS the distinct order count). Exact decimal
    * sums are associative — values identical to the r14 form; AQE
    * picks the join strategy at sf, shuffle-hash/sort-merge at 100 TB.
    */
  val q04_join_shuffle_agg: Q = (s, d) => {
    val perOrder = Scale.fanOutBy(Tables.lineitem(s, d), "l_orderkey")
      .groupBy("l_orderkey")
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(22,4)")).as("rev"))
    Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
      .join(perOrder, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum("rev").cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Window top-N per key: single shuffle on the partition key. */
  val q05_window_topn: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .where(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  /** Global top-k: compiles to TakeOrderedAndProject — per-partition
    * heaps + driver merge of k rows, never a full sort.
    */
  val q06_sort_limit: Q = (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(10)

  /** EXCEPT (distinct) — low-balance customers minus big spenders. */
  val q07_except: Q = (s, d) =>
    Tables.customer(s, d).where(col("c_acctbal") < 1000).select("c_custkey")
      .except(Tables.orders(s, d).where(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("c_custkey")))
      .orderBy("c_custkey")

  /** INTERSECT (distinct) on a small int key. */
  val q08_intersect: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  /** UNION ALL of two aggregates. */
  val q09_union_all: Q = (s, d) => {
    val c = Tables.customer(s, d).agg(count(lit(1)).as("n"))
      .select(lit("customer").as("src"), col("n"))
    val p = Tables.supplier(s, d).agg(count(lit(1)).as("n"))
      .select(lit("supplier").as("src"), col("n"))
    c.unionByName(p).orderBy("src")
  }

  /** Left-anti join (NOT IN without null traps): the filtered customer
    * side is small → broadcast anti join, no shuffle of orders.
    */
  val q10_anti_join: Q = (s, d) => {
    val rich = Tables.customer(s, d).where(col("c_acctbal") > 9000).select("c_custkey")
    Tables.orders(s, d)
      .join(broadcast(rich), col("o_custkey") === col("c_custkey"), "left_anti")
      .select("o_orderkey")
      .orderBy("o_orderkey")
  }

  /** Left-semi join (EXISTS). */
  val q11_semi_join: Q = (s, d) => {
    val big = Tables.orders(s, d).where(col("o_totalprice") > 400000).select("o_custkey")
    Tables.customer(s, d)
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey")
      .orderBy("c_custkey")
  }

  /** groupBy + HAVING. */
  val q12_having: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
      .where(col("n_orders") >= 10)
      .orderBy("o_custkey")

  /** Conditional branch (kpipe `when`) folded into an aggregation. */
  val q13_case_when: Q = (s, d) =>
    Tables.orders(s, d)
      .select(when(col("o_totalprice") >= 300000, "high")
        .when(col("o_totalprice") >= 100000, "mid")
        .otherwise("low").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** dropDuplicates — exact dedup on the projected key. */
  val q14_distinct: Q = (s, d) =>
    Dedup.exact(Tables.lineitem(s, d).select("l_returnflag", "l_linestatus"),
        Seq("l_returnflag", "l_linestatus"))
      .orderBy("l_returnflag", "l_linestatus")

  // ---------------------------------------------------------------- //
  // kpipe pipeline surface over the events table                     //
  // ---------------------------------------------------------------- //

  /** The A3 fixture chain (FIXTURES.md): filter → requireField →
    * rename → addField → removeFields, built with the Pipeline veneer —
    * compiles to one scan + one filter + one projection.
    */
  val q15_transform_chain: Q = (s, d) =>
    Pipeline(Tables.events(s, d))
      .filter(col("event_type") === "click")
      .requireField("value")
      .rename("value", "amount")
      .addField("source", lit("kpipe"))
      .removeFields("props", "ts")
      .toDF
      .orderBy("event_id")

  /** JSON decode (`from_json`) of the props payload. */
  val q16_json_extract: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
          .getField("k").as("k"))
      .orderBy("event_id")

  /** Decode with error capture — the kpipe Result column: value +
    * null error on success; malformed input would fill `decode_error`
    * and route to the DLQ branch (graft.streaming).
    */
  val q17_result_split: Q = (s, d) =>
    graft.formats.Json.decodeResultDF(Tables.events(s, d), col("props"), "k BIGINT", "res")
      .select(col("event_id"), col("res.value.k").as("k"), col("res.error").as("decode_error"))
      .orderBy("event_id")

  /** Running windowed sum per user (exact decimal accumulation). */
  val q18_window_running: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("running_value"))
      .orderBy("event_id")
  }

  /** Tumbling time-bucket aggregation (batch mirror of the streaming
    * windowed agg; same expressions run under `readStream`).
    */
  val q19_time_bucket_agg: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        decSum(col("value"), "(18,2)").as("total_value"))
      .orderBy("hour", "event_type")

  /** Keep-latest dedup per (user, event_type) — the batch mirror of
    * streaming `dropDuplicatesWithinWatermark`.
    */
  val q20_dedup_latest: Q = (s, d) => {
    val w = Window.partitionBy("user_id", "event_type").orderBy(desc("event_id"))
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "value")
      .orderBy("user_id", "event_type")
  }

  /** KPipe.multi route emulation: one source, per-topic filtered
    * branches, unioned — Catalyst reads the scan once per branch with
    * the branch filter pushed down.
    */
  val q21_multi_route: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val clicks = Ops.compose(
      Ops.filter(col("event_type") === "click"),
      Ops.addField("route", lit("clicks")))(ev)
    val errors = Ops.compose(
      Ops.filter(col("event_type") === "error"),
      Ops.addField("route", lit("errors")))(ev)
    clicks.unionByName(errors)
      .select(col("event_id"), col("route"), col("value").as("amount"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- //
  // LLM-pipeline operators over documents / embeddings               //
  // ---------------------------------------------------------------- //

  /** Whitespace token count — map-only scan. */
  val q22_token_count: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), TextFns.tokenCount(col("text")).as("n_tokens"))
      .orderBy("doc_id")

  /** MD5 content fingerprint. */
  val q23_fingerprint: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Exact content dedup: shuffle on the 32-char fingerprint only. */
  val q24_exact_dedup: Q = (s, d) =>
    Dedup.exactByContent(Tables.documents(s, d), "doc_id", "text")
      .orderBy("fp")

  /** Text quality metrics (token count, mean token length). */
  val q25_text_quality: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextFns.tokenCount(col("text")).as("n_tokens"),
        TextFns.meanTokenLength(col("text")).as("mean_token_len"))
      .orderBy("doc_id")

  /** Language/corpus distribution (exact integer sums). */
  val q26_lang_distribution: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("lang")

  /** Word-set Jaccard similarity between adjacent doc pairs — the
    * verification kernel of near-dup detection, oracle-checkable.
    */
  val q27_word_jaccard: Q = (s, d) => {
    val ws = Tables.documents(s, d)
      .select(col("doc_id"), array_distinct(TextFns.tokens(col("text"))).as("w"))
    val a = ws.as("a")
    val b = ws.as("b")
    a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        Dedup.jaccardArrays(col("a.w"), col("b.w")).as("jaccard"))
      .orderBy("id_a")
  }

  /** Brute-force cosine top-10 against doc 0's embedding — the exact
    * ANN baseline. Query side broadcast; corpus side streams;
    * TakeOrdered keeps k rows.
    */
  val q28_cosine_topk: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("v"))
    val qv = e.where(col("vec_id") === 0).select(col("v").as("qv"))
    e.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), round(VectorFns.cosine(col("v"), col("qv")), 4).as("sim"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(10)
  }

  // ---------------------------------------------------------------- //
  // Rows-only queries (no SQL oracle — checked by ScalaTest instead) //
  // ---------------------------------------------------------------- //

  /** MinHash LSH bucket table (SURVEY §7 step 9): constant width per
    * doc; the only shuffled artifact of near-dup detection.
    */
  val q29_minhash_buckets: Q = (s, d) =>
    // fanOutBy the doc id: the signature aggregation groups on it, so
    // the spread exchange doubles as the aggregation exchange (one
    // Exchange instead of round-robin + hash; alias-aware partitioning
    // carries through the shingle explode)
    Dedup.minhashBuckets(Scale.fanOutBy(Tables.documents(s, d), "doc_id"),
        "doc_id", "text")
      .orderBy("id", "band")

  /** 64-bit SimHash signatures (explode + codegen'd bit-sum aggregate). */
  val q30_simhash: Q = (s, d) =>
    // same keyed fan-out as q29: the 64-bit-sum aggregation groups on
    // the doc id, so one exchange serves spread + aggregation
    Dedup.simhashes(Scale.fanOutBy(Tables.documents(s, d), "doc_id"),
        "doc_id", "text")
      .orderBy("id")

  /** LSH-bucketed ANN top-10 for the first 5 vectors as queries. */
  val q31_ann_lsh: Q = (s, d) => {
    val e = Scale.fanOut(Tables.embeddings(s, d))
    Similarity.lshTopK(e, "vec_id", "embedding",
        e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, dim = 64, numBits = 8)
      .select(col("query_id"), col("id"), round(col("sim"), 4).as("sim"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Heuristic language ID. */
  val q32_langid: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), TextFns.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** Composite quality score. */
  val q33_quality_score: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), TextFns.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** Bigram-shingle MinHash near-dup pairs (low threshold so the small
    * random corpus yields candidates; real corpora use shingleWidth=3,
    * threshold≈0.8).
    */
  val q34_near_dup_pairs: Q = (s, d) =>
    Dedup.minhashNearDupPairs(Scale.fanOutBy(Tables.documents(s, d), "doc_id"), "doc_id", "text",
        threshold = 0.2, numHashes = 32, bands = 8, shingleWidth = 2)
      .orderBy("id_a", "id_b")

  /** Multimodal probe plumbing over opaque binary blobs (document text
    * bytes stand in for media payloads — the codec is a deterministic
    * stub whose fake dimensions derive from the md5 hash family, so the
    * DuckDB oracle computes the identical metadata; the
    * schema/partitioning/batching is the real pipeline).
    */
  val q35_multimodal_probe: Q = (s, d) =>
    graft.multimodal.Multimodal.probeMetadata(
        Tables.documents(s, d).select(col("doc_id"), col("text").cast("binary").as("blob")),
        "doc_id", "blob", graft.multimodal.Multimodal.Image)
      .select(col("id"), col("meta.kind"), col("meta.format"),
        col("meta.width").cast("bigint").as("width"),
        col("meta.height").cast("bigint").as("height"), col("meta.error"))
      .orderBy("id")

  /** Media feature-extraction → ANN hand-off: stub features feed the
    * same similarity operators as real embeddings. Stub features are
    * dyadic rationals (exact in float32 AND float64), so the cosine
    * scores hash-match the DuckDB double-precision oracle.
    */
  val q36_media_features: Q = (s, d) => {
    val feats = graft.multimodal.Multimodal.extractFeatures(
      Tables.documents(s, d).select(col("doc_id"), col("text").cast("binary").as("blob")),
      "doc_id", "blob", dim = 16)
    Similarity.bruteForceTopK(feats, "id", "embedding",
        feats.where(col("id") === 0), "id", "embedding", k = 5)
      .select(col("query_id"), col("id"), round(col("sim"), 4).as("sim"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** The kpipe-comparable end-to-end pipeline: Kafka-shaped records →
    * JSON decode (Result capture) → filter/addField/removeFields chain →
    * passed-rows projection. This is the decode→operators→sink shape the
    * reference benchmarks (BASELINE.md rec/s figures); Bench divides the
    * events row count by this query's wall time for `pipeline_rec_per_sec`.
    */
  val q37_pipeline_e2e: Q = (s, d) => {
    val records = Tables.events(s, d).select(
      col("event_id").cast("string").cast("binary").as("key"),
      to_json(struct(col("event_id"), col("user_id"), col("event_type"), col("value")))
        .cast("binary").as("value"),
      lit("events").as("topic"),
      lit(0).as("partition"),
      col("event_id").as("offset"),
      col("ts").as("timestamp"),
      lit(0).as("timestampType"),
      array().cast("array<struct<key:string,value:binary>>").as("headers"))
    graft.streaming.Graft
      .json(records, "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      .filter(col("res.error").isNull && col("res.value.event_type") =!= "error")
      .addField("source", lit("kpipe"))
      .removeFields("key", "value", "headers")
      .toDF
      .select(col("res.value.event_id").as("event_id"),
        col("res.value.user_id").as("user_id"),
        col("res.value.event_type").as("event_type"),
        col("res.value.value").as("amount"),
        col("source"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- //
  // Extended relational surface (round 2 widening)                   //
  // ---------------------------------------------------------------- //

  /** ROLLUP hierarchy totals. Ordered via null-coalesced keys so Spark
    * and DuckDB null-ordering defaults can't diverge.
    */
  val q38_rollup: Q = (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        decSum(col("l_quantity"), "(18,2)").as("total_qty"))
      .orderBy(coalesce(col("l_returnflag"), lit("~")),
        coalesce(col("l_linestatus"), lit("~")))

  /** CUBE over two order dimensions. */
  val q39_cube: Q = (s, d) =>
    Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy(coalesce(col("o_orderstatus"), lit("~")),
        coalesce(col("o_orderpriority"), lit("~")))

  /** GROUPING SETS — per-returnflag and per-linestatus marginals in one
    * pass.
    */
  val q40_grouping_sets: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy(coalesce(col("l_returnflag"), lit("~")),
        coalesce(col("l_linestatus"), lit("~")))

  /** Pivot: doc counts per lang × source (explicit value list keeps the
    * output schema static — required at scale anyway, and for the
    * oracle's conditional-aggregation mirror).
    */
  val q41_pivot: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy("lang")
      .pivot("source", Seq("src0", "src1", "src2", "src3"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("src0", "src1", "src2", "src3"))
      .orderBy("lang")

  /** Cross join of two tiny dimensions (the only legitimate cartesian). */
  val q42_cross_join: Q = (s, d) =>
    Tables.region(s, d).select("r_name")
      .crossJoin(Tables.nation(s, d).select("n_name"))
      .orderBy("r_name", "n_name")

  /** Scalar string functions over part. */
  val q43_string_funcs: Q = (s, d) =>
    Tables.part(s, d)
      .select(col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        substring(col("p_name"), 1, 8).as("name8"),
        length(col("p_name")).cast("bigint").as("name_len"),
        regexp_replace(col("p_type"), " ", "_").as("type_u"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
      .orderBy("p_partkey")

  /** Scalar date/time functions over orders. */
  val q44_date_funcs: Q = (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("bigint").as("yr"),
        month(col("o_orderdate")).cast("bigint").as("mo"),
        dayofmonth(col("o_orderdate")).cast("bigint").as("dom"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("bigint")
          .as("days_since"))
      .orderBy("o_orderkey")

  /** Null-handling scalars: nullif / coalesce. */
  val q45_null_funcs: Q = (s, d) =>
    Tables.customer(s, d)
      .select(col("c_custkey"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER")).as("seg"),
        when(col("c_acctbal") < 0, lit(null).cast("double")).otherwise(col("c_acctbal"))
          .as("pos_bal"))
      .orderBy("c_custkey")

  /** Aggregate statistics (min/max exact; avg via decimal; stddev
    * rounded — the one aggregate where float summation order matters,
    * bounded by 2dp rounding).
    */
  val q46_agg_stats: Q = (s, d) => {
    // Sample stddev from EXACT integer sums (l_quantity is integer-
    // valued): sqrt((n·Σq² − (Σq)²) / (n·(n−1))). Each SUM is a BIGINT
    // (exact, order-free) cast exactly to double (< 2^53); the
    // co-moment PRODUCTS then run in double-land — n·Σq² would wrap
    // BIGINT at ~6e7 rows/group, while IEEE multiplication is
    // deterministic at any magnitude. Every subsequent op (−·/·sqrt)
    // is a correctly-rounded primitive, bit-identical on any engine
    // and any partition order. `stddev_samp(double)` would merge float
    // co-moments in partition order (non-deterministic even within
    // Spark) — the q85 hazard class. n=1 guards to NULL explicitly:
    // 0/0 is NaN on Spark but NULL on some DuckDB builds — the same
    // engine-divergence class, banned by construction. varNum is
    // clamped at 0 on BOTH sides: once the exact sums exceed 2^53 the
    // double products round, and a zero-variance group could land at a
    // tiny NEGATIVE numerator — sqrt(neg) is NaN on Spark but an ERROR
    // on DuckDB, the same divergence class (the clamp is identical
    // IEEE max on both engines, so parity holds either way).
    val q = col("l_quantity").cast("bigint")
    val n = count(lit(1))
    val nD = n.cast("double")
    val varNum = greatest(nD * sum(q * q).cast("double") -
      sum(q).cast("double") * sum(q).cast("double"), lit(0.0))
    val varDen = nD * (n - lit(1)).cast("double")
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"),
        (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") / count(lit(1)))
          .as("avg_qty"),
        when(n > 1, sqrt(varNum / varDen)).as("sd_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** As-of join — for each click, the user's most recent purchase at or
    * before it. Spark lacks a native as-of join; per SURVEY §7 the
    * preference order starts with "compose built-ins", and the
    * tagged-union + running `last(ignoreNulls)` window IS the scalable
    * composition: one shuffle on the key, no range-join explosion, no
    * per-key state. (DuckDB verifies via its native ASOF JOIN.)
    */
  val q47_asof_join: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(1).as("is_click"), lit(null).cast("long").as("p_id"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(null).cast("long").as("event_id"),
        lit(0).as("is_click"), col("event_id").as("p_id"))
    // purchases sort before clicks at equal ts ⇒ `p.ts <= c.ts` semantics
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("is_click"))
      .rowsBetween(Window.unboundedPreceding, 0)
    clicks.unionByName(purchases)
      .withColumn("last_purchase", last(col("p_id"), ignoreNulls = true).over(w))
      .where(col("is_click") === 1)
      .select(col("event_id"), col("user_id"), col("last_purchase"))
      .orderBy("event_id")
  }

  /** Top-N per key via the bounded-heap TopKAggregate — same rows as
    * q05's window pattern (the oracle is identical SQL), but the plan
    * shuffles at most k rows per key per map partition instead of
    * sorting every row (see graft.plans.TopK).
    */
  val q48_topk_aggregate: Q = (s, d) =>
    graft.plans.TopK.topKPerKey(Tables.orders(s, d), Seq("o_custkey"),
        col("o_totalprice"), Seq(col("o_orderkey")), 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")

  /** Embedding-cosine near-dup pairs over the embeddings table
    * (LSH-bucketed self-join + exact cosine verify; low threshold so
    * the random test vectors yield candidate rows).
    */
  val q49_embedding_near_dup: Q = (s, d) =>
    Dedup.embeddingNearDupPairs(Scale.fanOut(Tables.embeddings(s, d)), "vec_id", "embedding",
        threshold = 0.1, dim = 64, numBits = 6)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
      .orderBy("id_a", "id_b")

  /** BPE-ish token-count estimate (budgeting signal; punct chars +
    * non-punct runs — exactly mirrored by the DuckDB oracle).
    */
  val q50_bpe_token_count: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), TextFns.approxBpeTokenCount(col("text")).as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Same result as q47, but through the custom as-of join operator
    * (graft.plans.AsOfJoinPlan → AsOfJoinExec): one sort-merge pass per
    * partition instead of union + running-last window. The oracle is
    * DuckDB's native ASOF JOIN — identical SQL to q47's.
    */
  val q51_asof_custom: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    // tiebreak on p_id: duplicate (user, ts) purchases would otherwise
    // make the carried p_id partition-nondeterministic
    graft.plans.AsOf.join(clicks, purchases, "user_id", "p_user", "ts", "p_ts",
        rightTiebreakCol = Some("p_id"))
      .select(col("event_id"), col("user_id"), col("p_id").as("last_purchase"))
      .orderBy("event_id")
  }

  /** Correlated EXISTS subquery through the SQL surface. Views are
    * namespaced (`graft_q52_*`) so building the query can never clobber
    * a caller's own `customer`/`orders` temp views.
    */
  val q52_exists_subquery: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("graft_q52_customer")
    Tables.orders(s, d).createOrReplaceTempView("graft_q52_orders")
    s.sql("""SELECT c_custkey, c_name FROM graft_q52_customer
             WHERE EXISTS (SELECT 1 FROM graft_q52_orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 300000)
             ORDER BY c_custkey""")
  }

  /** Scalar subquery: orders above the average total price (namespaced
    * view, as q52).
    */
  val q53_scalar_subquery: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_q53_orders")
    s.sql("""SELECT o_orderkey, o_totalprice FROM graft_q53_orders
             WHERE o_totalprice > (SELECT avg(o_totalprice) FROM graft_q53_orders)
             ORDER BY o_orderkey""")
  }

  /** Lateral explode with position (posexplode) — one row per token. */
  val q54_posexplode: Q = (s, d) =>
    Tables.documents(s, d)
      .where(col("doc_id") < 100)
      .select(col("doc_id"), posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "token")))
      .orderBy("doc_id", "pos")

  /** Exact interpolated percentiles (continuous quantiles). */
  val q55_percentiles: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"))
      .orderBy("l_returnflag")

  /** Regex extraction: leading word of part names + trailing word of
    * part types.
    */
  val q56_regexp_extract: Q = (s, d) =>
    Tables.part(s, d)
      .select(col("p_partkey"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        regexp_extract(col("p_type"), "(\\w+)$", 1).as("last_type"))
      .orderBy("p_partkey")

  /** Array functions over token lists: sort, dedup, membership, slice. */
  val q57_array_funcs: Q = (s, d) => {
    val t = TextFns.tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(array_distinct(t)).cast("bigint").as("n_unique"),
        array_join(slice(array_sort(array_distinct(t)), 1, 3), " ").as("first3_sorted"),
        array_contains(t, "the").as("has_the"))
      .orderBy("doc_id")
  }

  /** Deterministic hash sampling — the reproducible-at-any-scale sample
    * (a seeded `sample()` is not stable across partitionings; a content
    * hash is).
    */
  val q58_hash_sample: Q = (s, d) =>
    Tables.orders(s, d)
      .where(HashFns.hash61(col("o_orderkey").cast("string")) % 20 === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")

  /** Pearson correlation + sample covariance per group, from EXACT
    * integer sums. l_quantity is integer-valued and l_discount is a
    * 2-decimal value, so q = quantity and d = round(discount·100) are
    * exact BIGINTs; corr is scale-invariant in d and covar scales by
    * 100. Each SUM is BIGINT-exact and casts exactly to double
    * (< 2^53); the co-moment PRODUCTS run in double-land (n·Σq² would
    * wrap BIGINT at ~6e7 rows/group — IEEE multiplication is
    * deterministic at any magnitude), then −·/·sqrt only (each
    * correctly rounded ⇒ bit-identical across engines and partition
    * orders). The built-in `corr`/`covar_samp` merge float co-moments
    * in partition order — the q85 hazard class. Zero-variance groups
    * guard corr to NULL and n=1 guards covar: 0/0 is NaN on Spark but
    * NULL on some DuckDB builds — engine-divergent, banned by
    * construction.
    */
  val q59_corr: Q = (s, d) => {
    val q = col("l_quantity").cast("bigint")
    val disc = round(col("l_discount") * 100.0, 0).cast("bigint")
    val n = count(lit(1))
    val nD = n.cast("double")
    def sumD(c: Column) = sum(c).cast("double")
    val num = nD * sumD(q * disc) - sumD(q) * sumD(disc)
    val dq = nD * sumD(q * q) - sumD(q) * sumD(q)
    val dd = nD * sumD(disc * disc) - sumD(disc) * sumD(disc)
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        when(dq > 0 && dd > 0, num / (sqrt(dq) * sqrt(dd)))
          .as("corr_qty_disc"),
        when(n > 1, num / (nD * (n - lit(1)).cast("double")) / 100.0)
          .as("covar_qty_disc"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- //
  // Format codecs, end-to-end                                        //
  // ---------------------------------------------------------------- //

  /** Avro encode→decode round trip over events — drives
    * `AvroCodec.to_avro`/`from_avro` end-to-end (reference analog:
    * `lib/kpipe-format-avro/.../AvroFormatRoundTripTest.java`). The
    * oracle is the identity projection: a faithful codec is invisible.
    */
  val q60_avro_roundtrip: Q = (s, d) => {
    val schema =
      """{"type":"record","name":"Event","fields":[
        |{"name":"event_id","type":"long"},
        |{"name":"user_id","type":["null","long"],"default":null},
        |{"name":"event_type","type":["null","string"],"default":null},
        |{"name":"value","type":["null","double"],"default":null}]}""".stripMargin
    Tables.events(s, d)
      .select(AvroCodec.to_avro(
        struct(col("event_id"), col("user_id"), col("event_type"), col("value")),
        schema).as("avro"))
      .select(AvroCodec.from_avro(col("avro"), schema).as("r"))
      .select(col("r.*"))
      .orderBy("event_id")
  }

  /** Protobuf encode→decode round trip over events — drives the wire
    * encoder (`to_protobuf`) against the wire decoder (reference analog:
    * `ProtobufConfluentWireCompatTest.java`). proto3 collapses null to
    * the field default, so the oracle coalesces the nullable columns.
    */
  val q61_proto_roundtrip: Q = (s, d) => {
    import ProtoCodec._
    val desc = MessageDescriptor("Event", Seq(
      FieldDescriptor(1, "event_id", PInt64),
      FieldDescriptor(2, "user_id", PInt64),
      FieldDescriptor(3, "event_type", PString),
      FieldDescriptor(4, "value", PDouble)))
    Tables.events(s, d)
      .select(to_protobuf(
        struct(col("event_id"), col("user_id"), col("event_type"), col("value")),
        desc).as("pb"))
      .select(from_protobuf(col("pb"), desc).as("r"))
      .select(col("r.*"))
      .orderBy("event_id")
  }

  /** Confluent envelope wrap → magic-byte check → schema-id parse →
    * 5-byte skip, all pure column expressions (one concat + offset
    * moves, stays in codegen). Oracle = identity payload + constants.
    */
  val q62_envelope: Q = (s, d) => {
    val wrapped = ConfluentEnvelope.envelope(42, col("props").cast("binary"))
    Tables.events(s, d)
      .select(col("event_id"),
        ConfluentEnvelope.hasEnvelope(wrapped).as("has_envelope"),
        ConfluentEnvelope.schemaId(wrapped).as("schema_id"),
        ConfluentEnvelope.skipBytes(wrapped, ConfluentEnvelope.PrefixLength)
          .cast("string").as("payload"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- //
  // LLM-pipeline hygiene: contamination + PII                        //
  // ---------------------------------------------------------------- //

  /** Benchmark-contamination check: per-doc 3-gram overlap vs a small
    * "eval set" (stand-in: every 50th document). The eval shingle-hash
    * set is broadcast; the corpus side is one map-only scan + one
    * per-doc count aggregation.
    */
  val q63_contamination: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.contaminationScores(docs, "doc_id", "text",
        docs.where(col("doc_id") % 50 === 0), "text", n = 3)
      .orderBy("id")
  }

  /** PII detection + redaction: synthetic PII is appended to each doc
    * (identically in the oracle), then counted and redacted with
    * RE2-safe patterns so the DuckDB twin is exact.
    */
  val q64_pii_redact: Q = (s, d) => {
    val aug = concat(col("text"),
      lit(" contact: user"), col("doc_id"),
      lit("@test.org call 555-867-5309 ssn 123-45-6789"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextFns.piiCount(aug, TextFns.EMAIL_RE).as("n_emails"),
        TextFns.piiCount(aug, TextFns.SSN_RE).as("n_ssns"),
        TextFns.piiCount(aug, TextFns.PHONE_RE).as("n_phones"),
        TextFns.redactPii(aug).as("redacted"))
      .orderBy("doc_id")
  }

  /** Near-dup clustering: MinHash-LSH candidate pairs → connected
    * components → canonical (minimum) doc id per cluster. The oracle
    * computes the identical fixpoint via a recursive-CTE transitive
    * closure.
    */
  val q65_dedup_clusters: Q = (s, d) =>
    Curation.clusterLabels(Tables.documents(s, d), "doc_id", "text",
      corpusKey = d).orderBy("id")

  /** End-to-end curation pipeline — the composed form of the verified
    * pieces: exact dedup (keep min id per content hash) → near-dup
    * dedup (keep each cluster's canonical member, from the STAGED
    * label table q65/q74 also consume — the clustering job runs once
    * per corpus and [[graft.ops.Lineage.scoped]] block, not once per
    * consumer) → quality filter → language-ID → token budget → PII
    * redaction. One broadcast semi-join + one label
    * join + map-only projections; the oracle composes the same
    * formulas in CTEs.
    */
  val q66_curation_pipeline: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val keepIds = docs
      .select(TextFns.fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val clusters = Curation.clusterLabels(docs, "doc_id", "text", corpusKey = d)
    Curation.dedupCanonical(docs.join(keepIds, Seq("doc_id"), "left_semi"),
        "doc_id", clusters)
      .select(col("doc_id"),
        TextFns.langId(col("text")).as("lang_pred"),
        TextFns.qualityScore(col("text")).as("quality"),
        TextFns.tokenCount(col("text")).as("n_tokens"),
        TextFns.redactPii(col("text")).as("redacted"))
      .where(col("quality") >= 0.5)
      .orderBy("doc_id")
  }

  /** Sequence packing: shard by stable id hash, order by id, cut into
    * 2000-token packs — the per-shard window keeps parallelism at any
    * scale (never a global-order window).
    */
  val q67_sequence_packing: Q = (s, d) =>
    graft.ops.Packing.packBySequenceBudget(
        Tables.documents(s, d), "doc_id", "text", budgetTokens = 2000, shards = 8)
      .orderBy("doc_id")

  /** Gopher-style repetition stats: duplicate-word fraction (map-only)
    * and most-frequent-bigram character coverage (explode + two
    * partial-agg shuffles on the 8-byte doc id).
    */
  val q68_doc_repetition: Q = (s, d) =>
    graft.ops.TextStats.repetitionStats(Tables.documents(s, d), "doc_id", "text", n = 2)
      .orderBy("doc_id")

  /** Deterministic mixture sampling: per-language keep rates via a
    * broadcast weights table; membership = hash61("mix:"+id) % 1000.
    * Map-only — reproducible on any partitioning (zh exercises the
    * default-rate path: absent from the rate map on both sides).
    */
  val q69_mixture_sample: Q = (s, d) =>
    Mixture.sampleByRates(
        Tables.documents(s, d).select("doc_id", "lang", "source"),
        "doc_id", "lang",
        rates = Map("en" -> 900, "es" -> 600, "de" -> 400, "fr" -> 200),
        defaultPerMille = 300)
      .orderBy("doc_id")

  /** Corpus-level boilerplate n-grams: fraction of each doc's distinct
    * 3-grams occurring in ≥3 documents. Both shuffles move 8-byte
    * shingle hashes; the frequent set is joined, not broadcast.
    */
  val q70_boilerplate: Q = (s, d) =>
    Dedup.boilerplateScores(Tables.documents(s, d), "doc_id", "text", n = 3, minDocs = 3)
      .orderBy("id")

  /** Bucketed range join: for every "error" event, count same-user
    * events (and their exact-decimal value sum) in the following hour.
    * The interval side explodes into 1-2 hour buckets; the join is a
    * plain shuffle equi-join on (user_id, bucket) — never a
    * BroadcastNestedLoopJoin.
    */
  val q71_range_join: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val incidents = ev.where(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), col("user_id"),
        col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
    val points = ev.where(col("event_type") =!= "error")
      .select(col("user_id"), col("ts"), col("value"))
    graft.plans.RangeJoin.pointInInterval(points, incidents,
        "user_id", "ts", "w_start", "w_end", bucketSeconds = 3600)
      .groupBy("incident_id")
      .agg(count(lit(1)).as("n_events"),
        decSum(col("value"), "(18,4)").as("sum_value"))
      .orderBy("incident_id")
  }

  /** TF-IDF keyword extraction: top-3 terms per document by
    * `tf × N / df`. All heavy shuffles move (8-byte id, short term)
    * pairs; the corpus size N rides in as a broadcast 1-row cross join
    * (never an action), and the per-doc top-3 goes through the
    * bounded-heap aggregate — ≤3 rows per doc per partition shuffle,
    * no per-doc window sort. The score is a single IEEE division of
    * exactly-representable integers, so Spark and DuckDB produce
    * bit-identical doubles.
    */
  val q72_tfidf_keywords: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val tf = docs.select(col("doc_id").as("id"),
        explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // equi-join on an always-zero key so the 1-row corpus count rides
    // in as a BroadcastHashJoin, never a BroadcastNestedLoopJoin. The
    // key must be non-foldable (pmod of a runtime column) — a literal
    // key constant-folds and the join degenerates back to a cross join.
    val n = docs.agg(count(lit(1)).as("n"))
      .withColumn("__k", pmod(col("n"), lit(1L)))
    val scored = tf.join(dfreq, "term")
      .withColumn("__k", pmod(col("df"), lit(1L)))
      .join(broadcast(n), "__k")
      .select(col("id"), col("term"),
        ((col("tf") * col("n")).cast("double") / col("df")).as("score"))
    graft.plans.TopK.topKPerKey(scored, Seq("id"), col("score"), Seq(col("term")), 3)
      .select(col("id"), col("term"), round(col("score"), 6).as("score"), col("rn"))
      .orderBy("id", "rn")
  }

  /** Time-RANGE sliding window: per event, the exact-decimal sum of the
    * same user's values over the trailing 10 minutes — the value-based
    * frame (`rangeBetween`) complement to q18's row-based frame. The
    * frame is defined by the epoch-seconds value, so the result is
    * independent of tie order within a second; one shuffle on user_id.
    */
  val q73_range_window: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-600, 0)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("sec"), col("value"))
      .withColumn("sum_10m",
        sum(col("value").cast("decimal(18,4)")).over(w).cast("double"))
      .select("event_id", "user_id", "sum_10m")
      .orderBy("event_id")
  }

  /** Leakage-safe train/val/test split: the split key is the near-dup
    * cluster id (q65's connected components), so near-duplicates never
    * straddle a split boundary. 8/1/1 buckets via the hash family;
    * singleton docs split on their own id.
    */
  val q74_leakage_safe_split: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.leakageSafeSplit(docs, "doc_id",
        Curation.clusterLabels(docs, "doc_id", "text", corpusKey = d))
      .orderBy("doc_id")
  }

  /** Token-window chunking: split each document into overlapping
    * 40-token chunks on a 30-token stride (the context-length prep
    * step before packing). Map-only — the chunk starts come from a
    * per-row `sequence`, the slice/join are codegen'd array ops, and
    * the explode multiplies rows by ~n_tokens/stride only.
    */
  val q75_token_chunks: Q = (s, d) => {
    val chunkTokens = 40
    val stride = 30
    Tables.documents(s, d)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .where(size(col("w")) > 0)
      .select(col("doc_id"), col("w"),
        posexplode(sequence(lit(0), size(col("w")) - 1, lit(stride)))
          .as(Seq("chunk_idx", "start")))
      .withColumn("chunk_idx", col("chunk_idx").cast("bigint"))
      .withColumn("ck", slice(col("w"), col("start") + 1, lit(chunkTokens)))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("ck")).cast("bigint").as("n_tokens"),
        array_join(col("ck"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** All-pairs kNN self-join over the embeddings table: each vector's
    * top-3 neighbors via LSH buckets + multi-probe, bounded-heap top-k
    * per id. Ranking uses the unrounded cosine; rounding happens only
    * in the output projection (matching the oracle).
    */
  val q76_knn_self: Q = (s, d) =>
    Similarity.knnSelfJoin(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 3, dim = 64, numBits = 8)
      .select(col("query_id"), col("id"), round(col("sim"), 4).as("sim"), col("rank"))
      .orderBy("query_id", "rank")

  /** Deterministic stratified fixed-count sample: 20 documents per
    * language, chosen by hash order — the eval-set builder
    * (complement of q69's rate-based mixture: fixed COUNT per group,
    * not a fraction). Ranking by `hash61("eval:"+id)` through the
    * bounded-heap top-k shuffles ≤20 rows per lang per partition;
    * no per-group sort, no window, reproducible on any partitioning.
    */
  val q77_eval_sample: Q = (s, d) => {
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        HashFns.hash61(concat(lit("eval:"), col("doc_id").cast("string")))
          .as("rank_key"))
    graft.plans.TopK.topKPerKey(keyed, Seq("lang"), col("rank_key"), Seq(col("doc_id")), 20)
      .select(col("lang"), col("doc_id"), col("rn"))
      .orderBy("lang", "rn")
  }

  /** Adaptive quality filtering: keep documents at or above their own
    * language's MEDIAN quality — per-group thresholds instead of one
    * global cutoff (a fixed threshold over-filters low-resource
    * languages whose score distribution sits lower). The per-lang
    * medians are a tiny aggregate, broadcast back; the threshold pass
    * re-derives quality rather than caching the scored scan — at
    * cluster scale a real job would checkpoint the scored table, but
    * the formula is a map-only projection and the plan stays
    * shuffle-free beyond the 5-row aggregate.
    */
  val q78_adaptive_quality: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        TextFns.qualityScore(col("text")).as("quality"))
    val thresholds = scored.groupBy("lang")
      .agg(expr("percentile(quality, 0.5)").as("lang_median"))
    scored.join(broadcast(thresholds), "lang")
      .where(col("quality") >= col("lang_median"))
      .select("doc_id", "lang", "quality")
      .orderBy("doc_id")
  }

  /** End-to-end IVF ANN from raw embeddings only: hash-deterministic
    * sampled k-means (one Lloyd round; dimension sums are exact
    * DECIMAL and, cosine being scale-invariant, serve directly as
    * centroids) builds the cells, then the nProbe=2 IVF search runs as
    * an equi-join on the cell id. Every step is deterministic on any
    * partitioning, so the oracle replays the identical pipeline in SQL.
    */
  val q79_ivf_auto: Q = (s, d) => {
    val e = Scale.fanOut(Tables.embeddings(s, d))
    Similarity.ivfTopKAuto(e, "vec_id", "embedding",
        e.where(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, numCells = 4, nProbe = 2, iters = 1, sampleN = 64)
      .select(col("query_id"), col("id"), round(col("sim"), 4).as("sim"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Duplicate n-gram span stats (Lee-et-al substring dedup, token
    * formulation): per document, the tokens covered by 5-grams that
    * also occur in at least one other document, overlaps merged so no
    * token counts twice. All heavy traffic is (8-byte hash, id, pos)
    * triples; the span merge is a per-doc running-max window. See
    * [[graft.dedup.Dedup.dupNgramSpans]] for the 100 TB argument.
    */
  val q80_dup_ngram_spans: Q = (s, d) =>
    Dedup.dupNgramSpans(Tables.documents(s, d), "doc_id", "text",
        n = 5, minDocs = 2)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** SemDeDup: semantic dedup via the q79 deterministic IVF cells +
    * within-cell cosine pruning at 0.4 (the synthetic embeddings top
    * out at cos ≈ 0.51, same convention as q49's low threshold). Keeps
    * the min id of every near-dup chain; emits (vec_id, cell, kept)
    * for the whole corpus.
    */
  val q81_semdedup: Q = (s, d) =>
    Similarity.semDedup(Scale.fanOut(Tables.embeddings(s, d)),
        "vec_id", "embedding",
        threshold = 0.4, numCells = 4, iters = 1, sampleN = 64)
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")

  /** Deterministic training-order manifest: hash-sharded,
    * hash-ordered-within-shard global shuffle of the corpus — the
    * reproducible permutation a dataloader consumes as (shard file,
    * offset). One hash shuffle + per-shard sort; nShards is the scale
    * knob (see [[graft.ops.Sharding.shardManifest]]).
    */
  val q82_shuffle_shards: Q = (s, d) =>
    Sharding.shardManifest(Tables.documents(s, d), "doc_id", nShards = 16)
      .orderBy("doc_id")

  /** The dedup CUT pass (companion of q80): delete every span covered
    * by a cross-doc duplicated 5-gram except in the gram's canonical
    * (min-id) document, and reassemble the surviving tokens — exactly
    * one copy of each duplicated passage survives the corpus. See
    * [[graft.dedup.Dedup.cutDupSpans]].
    */
  val q83_dedup_cut: Q = (s, d) =>
    Dedup.cutDupSpans(Tables.documents(s, d), "doc_id", "text",
        n = 5, minDocs = 2)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Weighted mixture interleave: deterministic training order where
    * src0 runs at 3× base rate and src1 at 0.7× (virtual-time merge —
    * weighted fair queuing's stride schedule). The scheduling
    * complement of q69's rate sampling; see
    * [[graft.ops.Sharding.weightedInterleave]].
    */
  val q84_weighted_interleave: Q = (s, d) =>
    Sharding.weightedInterleave(Tables.documents(s, d), "doc_id", "source",
        Map("src0" -> 3.0, "src1" -> 0.7), nShards = 8)
      .orderBy("doc_id")

  /** Per-language distinct-token profile: the exact count next to the
    * oracle-exact HLL sketch estimate (integer register sums — the
    * sketch itself is hash-verified, not just its error bound). See
    * [[graft.ops.Sketch.hllDistinct]].
    */
  val q85_hll_distinct: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("lang"), explode(TextFns.tokens(col("text"))).as("tok"))
    val exact = toks.groupBy("lang").agg(countDistinct("tok").as("n_exact"))
    exact.join(Sketch.hllDistinct(toks, Seq("lang"), col("tok")), "lang")
      .select("lang", "n_exact", "hll_reg_sum", "hll_est_x10")
      .orderBy("lang")
  }

  /** Mergeable-sketch differential: HLL register tables built
    * INDEPENDENTLY on two disjoint halves of the corpus (doc_id
    * parity), merged by element-wise max, collapsed to the exact
    * integer fingerprint + estimate. The oracle pins the merged result
    * to the whole-corpus sketch — max is associative, so
    * merge(regs(A), regs(B)) MUST equal regs(A ∪ B) bit-for-bit;
    * this is the incremental-profiling contract (fold yesterday's
    * sketch with today's instead of rescanning 100 TB of history).
    * See [[graft.ops.Sketch.hllMergeRegisters]].
    */
  val q86_hll_merge: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        explode(TextFns.tokens(col("text"))).as("tok"))
    val half = (p: Int) => toks.where(pmod(col("doc_id"), lit(2)) === p)
    val merged = Sketch.hllMergeRegisters(
      Sketch.hllRegisters(half(0), Seq("lang"), col("tok"))
        .unionByName(Sketch.hllRegisters(half(1), Seq("lang"), col("tok"))),
      Seq("lang"))
    merged
      .select(col("lang"), Sketch.hllRegSum(col("hll_regs")).as("hll_reg_sum"))
      .withColumn("hll_est_x10", Sketch.hllEstX10("hll_reg_sum"))
      .orderBy("lang")
  }

  /** Bloom-filter contamination — q63's scale shape: the eval shingle
    * set becomes a fixed 8 KiB bitmap instead of an exact broadcast
    * set that grows with the eval corpus. Hash-verified end to end
    * (the position family is the same oracle-exact md5 + multiply-add
    * family); `n_bloom_hits` ≥ q63's `n_overlap` by construction.
    */
  val q87_bloom_contamination: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // mBits/k pinned explicitly: the DuckDB twin hardcodes 65536/4, so
    // a changed operator default must not silently diverge the oracle
    Dedup.bloomContaminationScores(docs, "doc_id", "text",
        docs.where(col("doc_id") % 50 === 0), "text", n = 3,
        mBits = 1 << 16, k = 4)
      .orderBy("id")
  }

  /** The decontamination FILTER over a pre-built bloom
    * ([[graft.dedup.Dedup.bloomFlagDocs]]): build the 8 KiB filter
    * from the eval slice once, flag every corpus doc whose shingles
    * probe positive (maxHits = 0, strict). The q87 diagnostic says HOW
    * contaminated; this is the operator a pipeline actually gates on —
    * same bloom, same probe, boolean verdict per doc. Docs too short
    * to produce a shingle are clean by definition.
    */
  val q89_bloom_flag: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val evalH = docs.where(col("doc_id") % 50 === 0)
      .select(explode(array_distinct(TextFns.shingles(col("text"), 3))).as("sh"))
      .select(HashFns.hash61(col("sh")).as("x"))
    val words = Sketch.bloomWords(evalH, col("x"), mBits = 1 << 16, k = 4)
    Dedup.bloomFlagDocs(docs, "doc_id", "text", words, n = 3,
        mBits = 1 << 16, k = 4, maxHits = 0)
      .select(col("doc_id"), col("contaminated"))
      .orderBy("doc_id")
  }

  /** Count-min sketch frequency profile: build the (4 × 8192) counter
    * table over every token occurrence, then read back the top-20
    * tokens (by exact count, token tiebreak) with their point
    * estimates — `cms_est ≥ n_exact` always, equality when the
    * token's 4 cells are collision-free. Integer arithmetic end to
    * end. See [[graft.ops.Sketch.cmsCounts]].
    */
  val q88_cms_topk: Q = (s, d) => {
    val w = 8192
    val k = 4
    val toks = Tables.documents(s, d)
      .select(explode(TextFns.tokens(col("text"))).as("tok"))
    val hashed = toks.select(col("tok"), HashFns.hash61(col("tok")).as("x"))
    val counts = Sketch.cmsCounts(hashed, col("x"), w, k)
    val top = hashed.groupBy("tok")
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("tok"))
      .limit(20)
    top
      .select(col("tok"), col("n_exact"), HashFns.hash61(col("tok")).as("x"))
      .select(col("tok"), col("n_exact"),
        explode(array((0 until k).map(j =>
          struct(lit(j).as("row"),
            (HashFns.hashAt(col("x"), j) % w).cast("int").as("col"))): _*)).as("cell"))
      .join(broadcast(counts),
        col("cell.row") === counts("row") && col("cell.col") === counts("col"))
      .groupBy("tok", "n_exact")
      .agg(min("cnt").as("cms_est"))
      .orderBy(col("n_exact").desc, col("tok"))
  }

  /** KMV distinct profile per language over 3-gram shingles: exact
    * count next to the k=256 k-minimum-values sketch — the
    * order-statistics dual of q85's HLL, and its values double as a
    * uniform distinct-sample (bottom-k of a union is computable from
    * bottom-k's alone). Integer surface end to end: kmv_kth is the
    * 256th-smallest 61-bit hash, the estimate is a constant integer
    * divided by it. See [[graft.ops.Sketch.kmvSketch]].
    */
  val q90_kmv_distinct: Q = (s, d) => {
    val k = 256
    val sh = Tables.documents(s, d)
      .select(col("lang"), explode(TextFns.shingles(col("text"), 3)).as("sh"))
    val exact = sh.groupBy("lang").agg(countDistinct("sh").as("n_exact"))
    exact.join(Sketch.kmvStats(Sketch.kmvSketch(sh, Seq("lang"), col("sh"), k), k), "lang")
      .select("lang", "n_exact", "kmv_n", "kmv_kth", "kmv_est_x10")
      .orderBy("lang")
  }

  /** KMV merge differential: sketches built INDEPENDENTLY on the two
    * doc_id-parity halves, merged (k smallest of the distinct union),
    * read back. The oracle pins the merged sketch to the whole-corpus
    * single-pass sketch — every global bottom-k hash lies inside its
    * own half's bottom-k, so the merge is exact, which is the
    * incremental contract (fold yesterday's sketch with today's). See
    * [[graft.ops.Sketch.kmvMerge]].
    */
  val q91_kmv_merge: Q = (s, d) => {
    val k = 256
    val sh = Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        explode(TextFns.shingles(col("text"), 3)).as("sh"))
    val half = (p: Int) => sh.where(pmod(col("doc_id"), lit(2)) === p)
    val merged = Sketch.kmvMerge(
      Sketch.kmvSketch(half(0), Seq("lang"), col("sh"), k)
        .unionByName(Sketch.kmvSketch(half(1), Seq("lang"), col("sh"), k)),
      Seq("lang"), k)
    Sketch.kmvStats(merged, k)
      .select("lang", "kmv_n", "kmv_kth", "kmv_est_x10")
      .orderBy("lang")
  }

  /** Mergeable histogram + integer quantile readback over per-doc token
    * counts: per-half (doc_id parity) fixed-bin histograms merged by
    * cell-wise sum, then p50/p90/p99 as the smallest bin reaching
    * ceil(pct·N/100) — the 100 TB distribution-profile shape (state =
    * bins, not rows; merge = add), with an integer-exact readback
    * unlike percentile_approx. See [[graft.ops.Sketch.histogram]].
    */
  val q92_hist_quantiles: Q = (s, d) => {
    val binW = 8L
    val v = Tables.documents(s, d)
      .select(pmod(col("doc_id"), lit(2)).as("half"),
        TextFns.tokenCount(col("text")).as("v"))
    val merged = Sketch.histMerge(
      (0 to 1).map(p => Sketch.histogram(v.where(col("half") === p), col("v"), binW)))
    Sketch.histQuantiles(merged, binW, Seq(50, 90, 99))
      .orderBy("pct")
  }

  /** Corpus-level source similarity: one 32-component MinHash signature
    * per source over its distinct 3-gram shingle-hash set (constant
    * bytes per source — the whole-corpus profile is 20 rows), pairwise
    * signature agreement next to the EXACT Jaccard ingredients
    * (n_inter/n_union via a distinct-set self-join) so the estimate is
    * verified against ground truth in the same query. sig_agree/32
    * estimates Jaccard; at 100 TB only the signature path survives —
    * the exact path is the sf-small oracle anchor.
    */
  val q93_minhash_sources: Q = (s, d) => {
    val K = 32
    val sh = Tables.documents(s, d)
      .select(col("source"), explode(TextFns.shingles(col("text"), 3)).as("sh"))
      .select(col("source"), HashFns.hash61(col("sh")).as("x")).distinct()
    val sig = sh.groupBy("source").agg(
      count(lit(1)).as("n_sh"),
      (0 until K).map(j => min(HashFns.hashAt(col("x"), j)).as(s"m$j")): _*)
    val a = sig.select(col("source").as("src_a") +: col("n_sh").as("na") +:
      (0 until K).map(j => col(s"m$j").as(s"a$j")): _*)
    val b = sig.select(col("source").as("src_b") +: col("n_sh").as("nb") +:
      (0 until K).map(j => col(s"m$j").as(s"b$j")): _*)
    val agree = (0 until K)
      .map(j => when(col(s"a$j") === col(s"b$j"), lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    val inter = Sketch.pairIntersections(sh, "source", "x")
    // 20-row signature table: broadcast inequality self-join (BNLJ) is
    // the intended plan — pairs of sources, not pairs of documents
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .withColumn("sig_agree", agree)
      .join(broadcast(inter),
        col("src_a") === col("ia") && col("src_b") === col("ib"), "left")
      .select(col("src_a"), col("src_b"), col("sig_agree"),
        coalesce(col("ni"), lit(0L)).as("n_inter"),
        (col("na") + col("nb") - coalesce(col("ni"), lit(0L))).as("n_union"))
      .orderBy("src_a", "src_b")
  }

  /** Pairwise per-language Jaccard ESTIMATED from KMV sketches next to
    * its exact ingredients: for each lang pair, U = bottom-k of the
    * sketch union; kmv_match/kmv_denom = |U ∩ A ∩ B| / |U| estimates
    * J(A, B) (Beyer et al. 2007 — the union's bottom-k is a uniform
    * sample of the union's distinct hashes, and membership in both sets
    * is readable from the sketches alone). The exact n_inter/n_union
    * pair from the distinct-hash self-join is the sf-small oracle
    * anchor; at 100 TB only the sketch path survives — S languages
    * cost S constant-size sketches plus O(S²) pair rows, never a
    * corpus-size join. Integer surface end to end.
    */
  val q94_kmv_jaccard: Q = (s, d) => {
    val (pairs, inter) = langPairSketches(s, d, k = 256)
    val u = Sketch.kmvUnionK(col("kmv_a"), col("kmv_b"), 256)
    pairs
      .withColumn("kmv_match", Sketch.kmvMatchCount(u, col("kmv_a"), col("kmv_b")))
      .withColumn("kmv_denom", size(u).cast("bigint"))
      .join(broadcast(inter),
        col("lang_a") === col("ia") && col("lang_b") === col("ib"), "left")
      .select(col("lang_a"), col("lang_b"), col("kmv_match"), col("kmv_denom"),
        coalesce(col("ni"), lit(0L)).as("n_inter"),
        (col("na") + col("nb") - coalesce(col("ni"), lit(0L))).as("n_union"))
      .orderBy("lang_a", "lang_b")
  }

  /** Shared q94/q105 scaffold: ONE shingle+hash+distinct pass feeds
    * the per-lang bottom-k sketches, the per-lang distinct counts,
    * and the exact pairwise-intersection anchors; the 5-row sketch
    * table pairs under a broadcast inequality self-join (pairs of
    * LANGUAGES, not documents — the intended BNLJ). Returns
    * (pairs(lang_a, kmv_a, na, lang_b, kmv_b, nb),
    * inter(ia, ib, ni)).
    */
  private def langPairSketches(s: SparkSession, d: String,
                               k: Int): (DataFrame, DataFrame) = {
    val hx = Tables.documents(s, d)
      .select(col("lang"), explode(TextFns.shingles(col("text"), 3)).as("sh"))
      .select(col("lang"), HashFns.hash61(col("sh")).as("x")).distinct()
    val n = hx.groupBy("lang").agg(count(lit(1)).as("n"))
    val skn = Sketch.kmvFromHashes(hx, Seq("lang"), col("x"), k).join(n, "lang")
    val a = skn.select(col("lang").as("lang_a"), col("kmv").as("kmv_a"),
      col("n").as("na"))
    val b = skn.select(col("lang").as("lang_b"), col("kmv").as("kmv_b"),
      col("n").as("nb"))
    (a.join(broadcast(b), col("lang_a") < col("lang_b")),
      Sketch.pairIntersections(hx, "lang", "x"))
  }

  /** Keyed mergeable histogram: per-LANGUAGE token-count distribution,
    * built per doc_id-parity half and merged by cell-wise sum, then
    * p50/p90/p99 read back per language with the integer ceil-rank
    * rule — q92's profile generalized to grouped profiling (state =
    * langs × bins, merge = add), the shape a per-source/per-day
    * quality dashboard needs at 100 TB. See
    * [[graft.ops.Sketch.histogramBy]].
    */
  val q95_hist_by_lang: Q = (s, d) => {
    val binW = 8L
    val v = Tables.documents(s, d)
      .select(col("lang"), pmod(col("doc_id"), lit(2)).as("half"),
        TextFns.tokenCount(col("text")).as("v"))
    val merged = Sketch.histMergeBy(
      (0 to 1).map(p =>
        Sketch.histogramBy(v.where(col("half") === p), Seq("lang"), col("v"), binW)),
      Seq("lang"))
    Sketch.histQuantilesBy(merged, Seq("lang"), binW, Seq(50, 90, 99))
      .orderBy("lang", "pct")
  }

  /** Multi-benchmark decontamination: three eval suites (doc_id % 50 ∈
    * {0,1,2}), one 8 KiB bloom filter each, every corpus doc scored
    * against ALL suites in one scan — the shape a real pipeline needs
    * when gating against many benchmark suites at once (K filters =
    * K·8 KiB broadcast, never K exact sets). See
    * [[graft.dedup.Dedup.bloomContaminationBySet]].
    */
  val q96_multi_bloom: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val evalSets = docs.where(col("doc_id") % 50 <= 2)
      .select(concat(lit("suite"), (col("doc_id") % 50).cast("string")).as("set_id"),
        col("text"))
    Dedup.bloomContaminationBySet(docs, "doc_id", "text", evalSets, "set_id",
        "text", n = 3, mBits = 1 << 16, k = 4)
      .orderBy("id", "set_id")
  }

  /** Per-language count-min frequency profiles: one d×w counter table
    * per language ([[graft.ops.Sketch.cmsCountsBy]] — the keyed
    * completion of q88), read back as each language's top-5 exact
    * tokens with their per-language point estimates. cms_est ≥
    * n_exact always, per language, since only that language's
    * occurrences hit its table — grouped frequency profiling with
    * langs × d×w counters of state, never a per-language token
    * dictionary.
    */
  val q97_cms_by_lang: Q = (s, d) => {
    val w = 8192
    val k = 4
    val hashed = Tables.documents(s, d)
      .select(col("lang"), explode(TextFns.tokens(col("text"))).as("tok"))
      .select(col("lang"), col("tok"), HashFns.hash61(col("tok")).as("x"))
    val counts = Sketch.cmsCountsBy(hashed, Seq("lang"), col("x"), w, k)
      .withColumnRenamed("lang", "clang")
    val wnd = Window.partitionBy("lang")
      .orderBy(col("n_exact").desc, col("tok"))
    val top = hashed.groupBy("lang", "tok").agg(count(lit(1)).as("n_exact"))
      .withColumn("rn", row_number().over(wnd)).where(col("rn") <= 5).drop("rn")
    top
      .select(col("lang"), col("tok"), col("n_exact"),
        HashFns.hash61(col("tok")).as("x"))
      .select(col("lang"), col("tok"), col("n_exact"),
        explode(array((0 until k).map(j =>
          struct(lit(j).as("row"),
            (HashFns.hashAt(col("x"), j) % w).cast("int").as("col"))): _*)).as("cell"))
      .join(broadcast(counts),
        col("lang") === col("clang") && col("cell.row") === col("row") &&
          col("cell.col") === col("col"))
      .groupBy("lang", "tok", "n_exact")
      .agg(min("cnt").as("cms_est"))
      .orderBy(col("lang"), col("n_exact").desc, col("tok"))
  }

  /** Mergeable top-k with error certificates: four doc_id-parity
    * shards each keep their exact per-language top-32 tokens plus a
    * threshold ([[graft.ops.Sketch.topkSummary]] — anything a shard
    * dropped occurs at most thr times there), merged into per-token
    * [est_lo, est_hi] bounds ([[graft.ops.Sketch.topkMerge]]), read
    * back as each language's top-5 by est_lo next to the exact count.
    * By construction est_lo ≤ n_exact ≤ est_hi on every row — the
    * summary carries its own error certificate, which count-min
    * cannot. At 100 TB only kPrime rows per (lang, shard) cross the
    * network; the exact path is the sf-small oracle anchor. Integer
    * surface end to end.
    */
  val q98_topk_shards: Q = (s, d) => {
    val kPrime = 32
    val tok = Tables.documents(s, d)
      .select(col("lang"), pmod(col("doc_id"), lit(4)).as("shard"),
        explode(TextFns.tokens(col("text"))).as("tok"))
      // no-op (explode never yields null), but the final join pushes
      // isnotnull(tok) into ITS copy of this subtree — carrying the
      // filter on the shared projection keeps every copy canonical-
      // identical so the counts exchange is reused, not recomputed
      .where(col("tok").isNotNull)
    val counts = tok.groupBy("lang", "shard", "tok").agg(count(lit(1)).as("cnt"))
    val summ = Sketch.topkSummary(counts, Seq("lang"), "shard", "tok", "cnt", kPrime)
    val bounds = Sketch.topkMerge(summ, Seq("lang"), "shard", "tok", "cnt")
    // exact anchor from the SAME per-shard counts (Σ shards), so the
    // tokenize+count exchange is computed once and reused
    val exact = counts.groupBy("lang", "tok")
      .agg(sum("cnt").cast("long").as("n_exact"))
    val wnd = Window.partitionBy("lang").orderBy(col("est_lo").desc, col("tok"))
    bounds
      .withColumn("rn", row_number().over(wnd)).where(col("rn") <= 5).drop("rn")
      .join(exact, Seq("lang", "tok"), "left")
      .select(col("lang"), col("tok"), col("est_lo"), col("est_hi"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"))
      .orderBy(col("lang"), col("est_lo").desc, col("tok"))
  }

  /** Weighted document sampling via priority sampling (Duffield–Lund–
    * Thorup): keep 500 documents weight-sensitively by token count —
    * long documents enter with certainty, short ones with probability
    * ∝ weight and up-weighted to the threshold τ, so Σ w_hat over the
    * sample estimates the corpus token total unbiasedly (pinned
    * statistically by `MixtureSpec`; this oracle row pins the
    * deterministic integer construction). The selection is two
    * TakeOrderedAndProject passes (O(k) state per partition, no global
    * sort, no RNG state) — the sampler a 100 TB quality-weighted
    * subset selection actually runs. See
    * [[graft.ops.Mixture.prioritySample]].
    */
  val q99_priority_sample: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        greatest(TextFns.tokenCount(col("text")), lit(1L)).as("wt"))
    Mixture.prioritySample(docs, "doc_id", col("wt"), 500)
      .orderBy("t", "doc_id")
  }

  /** Stratified priority sampling: an independent 100-document
    * weight-sensitive sample PER LANGUAGE with per-group thresholds —
    * q99's estimator with quota stratification, the form a mixture
    * recipe actually needs ("100 quality-weighted docs from every
    * language, estimate each language's token mass from its own
    * sample"). One ranked window (WindowGroupLimit caps the exchange
    * at k+1 rows per group) feeds both the sample and the τ table.
    * See [[graft.ops.Mixture.prioritySampleBy]].
    */
  val q100_priority_by_lang: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        greatest(TextFns.tokenCount(col("text")), lit(1L)).as("wt"))
    Mixture.prioritySampleBy(docs, Seq("lang"), "doc_id", col("wt"), 100)
      .orderBy("lang", "t", "doc_id")
  }

  /** Windowed HLL distinct: distinct users per (hour, event_type) via
    * the ONE-PASS [[graft.functions.HllAgg]] aggregator — a single
    * aggregation whose 1 KiB partial buffers merge map-side (no
    * (key, bucket) shuffle rows), emitting the same integer
    * `hll_reg_sum` readback as q85's two-step column construction.
    * This is the aggregator the STREAMING windowed form reuses
    * verbatim (`groupBy(window(ts), type).agg(hllAgg)` is one
    * stateful operator — `StatefulSpec` pins the streaming emission
    * against this batch result); the oracle twin rebuilds the
    * registers relationally, so the driver hash-verifies the UDAF
    * path end to end.
    */
  val q101_hll_windowed: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(date_trunc("hour", col("ts")).as("hour"), col("event_type"),
        HashFns.hash61(col("user_id").cast("string")).as("hx"))
    ev.groupBy("hour", "event_type")
      .agg(Sketch.hllAgg(col("hx")).as("hll_reg_sum"))
      .withColumn("hll_est_x10", Sketch.hllEstX10("hll_reg_sum"))
      .orderBy("hour", "event_type")
  }

  /** Windowed KMV distinct: per (hour, event_type) bottom-256 user
    * sketch via the ONE-PASS [[graft.plans.KmvAggregate]] — at most k
    * longs per group cross the shuffle (the relational build ranks
    * every distinct hash), and the output array feeds the standard
    * [[graft.ops.Sketch.kmvStats]] readback unchanged. q101's
    * aggregator pattern applied to the order-statistics sketch; the
    * oracle twin rebuilds the bottom-k relationally, pinning the
    * imperative fold in the driver's gate.
    */
  val q102_kmv_windowed: Q = (s, d) => {
    val k = 256
    val ev = Tables.events(s, d)
      .select(date_trunc("hour", col("ts")).as("hour"), col("event_type"),
        HashFns.hash61(col("user_id").cast("string")).as("hx"))
    val sk = ev.groupBy("hour", "event_type")
      .agg(graft.plans.KmvAgg.kmv_sketch(col("hx"), k).as("kmv"))
    Sketch.kmvStats(sk, k).drop("kmv")
      .orderBy("hour", "event_type")
  }

  /** One-pass CMS heavy-user profile: per event_type, the d×w
    * count-min table built by [[graft.plans.CmsAggregate]] (one 32 KiB
    * buffer per map partition per group crosses the shuffle — the
    * relational build ships d cell rows per EVENT), read back as each
    * type's top-3 exact users with their point estimates probed
    * straight from the array (`element_at(cms, j·w + c + 1)`, least
    * over the d rows). cms_est ≥ n_exact always. Completes the
    * one-pass aggregate trio (q101 HLL, q102 KMV).
    */
  val q103_cms_agg: Q = (s, d) => {
    val w = 1024
    val dd = 4
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("user_id"),
        HashFns.hash61(col("user_id").cast("string")).as("hx"))
    val cms = ev.groupBy("event_type")
      .agg(graft.plans.CmsAgg.cms_counts(col("hx"), w, dd).as("cms"))
      .withColumnRenamed("event_type", "ct")
    val wnd = Window.partitionBy("event_type")
      .orderBy(col("n_exact").desc, col("user_id"))
    val top = ev.groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n_exact"))
      .withColumn("rn", row_number().over(wnd)).where(col("rn") <= 3).drop("rn")
      .withColumn("hx", HashFns.hash61(col("user_id").cast("string")))
    top.join(broadcast(cms), col("event_type") === col("ct"))
      .withColumn("cms_est", least((0 until dd).map(j =>
        element_at(col("cms"),
          (pmod(HashFns.hashAt(col("hx"), j), lit(w.toLong)) +
            lit(j.toLong * w) + lit(1L)).cast("int"))): _*))
      .select(col("event_type"), col("user_id"), col("n_exact"), col("cms_est"))
      .orderBy(col("event_type"), col("n_exact").desc, col("user_id"))
  }

  /** Pairwise source-similarity matrix from one-pass sketches: one
    * bottom-128 KMV per source via [[graft.plans.KmvAggregate]] (the
    * aggregate dedups internally — no distinct+rank pass, ONE scan
    * for all 20 sketches), then all 190 source pairs estimated from
    * the sketches alone (kmv_match/kmv_denom per Beyer et al., q94's
    * estimator with the exact anchor dropped — q94 already verifies
    * the estimator against ground truth at the language level). This
    * is the true 100 TB shape: S constant-size sketches + O(S²) pair
    * rows on a 20-row broadcast table, nothing corpus-sized after the
    * scan.
    */
  val q104_kmv_matrix: Q = (s, d) => {
    val k = 128
    val hx = Tables.documents(s, d)
      .select(col("source"), explode(TextFns.shingles(col("text"), 3)).as("sh"))
      .select(col("source"), HashFns.hash61(col("sh")).as("x"))
    val sk = hx.groupBy("source")
      .agg(graft.plans.KmvAgg.kmv_sketch(col("x"), k).as("kmv"))
    val a = sk.select(col("source").as("src_a"), col("kmv").as("kmv_a"))
    val b = sk.select(col("source").as("src_b"), col("kmv").as("kmv_b"))
    val u = Sketch.kmvUnionK(col("kmv_a"), col("kmv_b"), k)
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        Sketch.kmvMatchCount(u, col("kmv_a"), col("kmv_b")).as("kmv_match"),
        size(u).cast("bigint").as("kmv_denom"))
      .orderBy("src_a", "src_b")
  }

  /** Sketch-level SET ALGEBRA per language pair: intersection and
    * both one-sided differences estimated from the KMV sketches alone
    * ([[graft.ops.Sketch.kmvSetOpStats]]) — the reading HLL registers
    * can never express (HLL merges by max, so it unions but cannot
    * subtract; KMV's union sample supports ∩ / A∖B / B∖A directly).
    * Exact anchors ride along from the same distinct-hash pass
    * (n_inter via self-join; differences by arithmetic), so the
    * estimator is pinned to ground truth in the same row. Integer
    * surface end to end: estimates are count · (NumX10 div h_(k))
    * div k — exact integer products and divisions, no float anywhere.
    * At 100 TB only the sketch path survives: S langs cost S
    * constant-size sketches plus O(S²) broadcast pair rows.
    */
  val q105_kmv_setops: Q = (s, d) => {
    val k = 256
    val (pairs, inter) = langPairSketches(s, d, k)
    Sketch.kmvSetOpStats(pairs, k)
      .join(broadcast(inter),
        col("lang_a") === col("ia") && col("lang_b") === col("ib"), "left")
      .withColumn("n_inter", coalesce(col("ni"), lit(0L)))
      .select(col("lang_a"), col("lang_b"),
        col("kmv_match"), col("kmv_a_only"), col("kmv_b_only"),
        col("u_n").as("kmv_denom"),
        col("union_est_x10"), col("inter_est_x10"),
        col("a_only_est_x10"), col("b_only_est_x10"),
        col("n_inter"),
        (col("na") - col("n_inter")).as("n_a_only"),
        (col("nb") - col("n_inter")).as("n_b_only"))
      .orderBy("lang_a", "lang_b")
  }

  /** Corpus-trained bigram LM surprisal per document
    * ([[graft.ops.TextStats.lmSurprisal]]) — the CCNet-style
    * "improbable under the corpus's own statistics" quality signal,
    * with the float perplexity replaced by Mitchell's integer log2
    * approximation in eighth-bit units so the entire surface is
    * oracle-hashable (no engine log/exp anywhere). The classic
    * distributed LM shape: bigram explode → two count aggregations →
    * re-join by key — all map-side-partial hash aggs and key joins
    * that survive a 100 TB corpus; V broadcast as one row.
    */
  val q106_lm_surprisal: Q = (s, d) =>
    TextStats.lmSurprisal(Tables.documents(s, d), "doc_id", "text", Seq("lang"))
      .orderBy("doc_id")

  /** Z-order (Morton) clustering readback
    * ([[graft.ops.Layout.zValue]]): lineitem's (partkey, suppkey)
    * quantized to 10 bits each and interleaved; per 14-bit z-range
    * bucket, the count plus min/max of BOTH dimensions — showing each
    * contiguous z-range covers a bounded rectangle of both keys at
    * once, which is exactly why `writeZOrdered`'s parquet min/max
    * stats prune scans filtered on EITHER dimension at 100 TB. Pure
    * literal bit arithmetic (oracle-exact), one map-side projection +
    * one 64-group aggregation.
    */
  val q107_zorder_stats: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(
      pmod(col("l_partkey"), lit(1024L)).as("x"),
      pmod(col("l_suppkey"), lit(1024L)).as("y"))
    li.withColumn("z", graft.ops.Layout.zValue(Seq(col("x"), col("y")), 10))
      .groupBy(shiftright(col("z"), 14).as("bucket"))
      .agg(count(lit(1)).as("n"),
        min("x").as("x_min"), max("x").as("x_max"),
        min("y").as("y_min"), max("y").as("y_max"))
      .orderBy("bucket")
  }

  /** Int8 scalar-quantized ANN ([[graft.sim.Similarity.sqQuantize]]):
    * q28's single-query top-10 re-ranked in the quantized space — the
    * corpus compressed 4× (64 int8 codes per vector), the scoring an
    * exact INTEGER dot product, so the whole surface is
    * oracle-hashable with no float summation anywhere. The scales are
    * a dim-sized bounded collect (one stats scan); at 100 TB the
    * quantized table is what you cache/shuffle, not the floats.
    */
  val q108_sq_ann: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val scales = Similarity.sqScales(e, "embedding")
    val eq = e.select(col("vec_id"),
      Similarity.sqQuantize(col("embedding"), scales).as("qe"))
    val qv = eq.where(col("vec_id") === 0).select(col("qe").as("qv"))
    eq.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), Similarity.sqDot(col("qe"), col("qv")).as("qdot"))
      .orderBy(desc("qdot"), col("vec_id"))
      .limit(10)
  }

  /** Retrieval-based curation: BM25 top-100 against a corpus-MINED
    * query (the 4 most frequent ≥5-char tokens — deterministic count
    * DESC, token ASC), integer-exact end to end
    * ([[graft.ops.TextStats.bm25]] — Mitchell-log IDF in eighth-bits
    * with the Lucene-style zero floor, k1/b as exact rationals via a
    * 10·avdl common denominator). The seed-set relevance-mining shape:
    * terms broadcast, tf/df map-side-partial aggs, TakeOrdered top-k.
    */
  val q109_bm25: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val terms = docs.select(explode(TextFns.tokens(col("text"))).as("t"))
      .where(length(col("t")) >= 5)
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("t")).limit(4)
    TextStats.bm25(docs, "doc_id", "text", terms, "t", Seq("lang"), 100)
  }

  /** ANALYZE-style one-pass table profile
    * ([[graft.ops.Profile.profile]]): per-column non-null/null/exact-
    * distinct counts and min/max over six heterogeneous lineitem
    * columns (bigint, decimal-cast doubles, string, timestamp) — the
    * trust-a-new-drop data-quality scan. One aggregation (multi-
    * distinct plans as Expand with map-side partials); doubles pre-
    * cast to DECIMAL(18,2) so min/max strings render identically on
    * both engines.
    */
  val q110_table_profile: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(
      col("l_orderkey"),
      col("l_linenumber").cast("bigint").as("l_linenumber"),
      col("l_quantity").cast("decimal(18,2)").as("l_quantity"),
      col("l_extendedprice").cast("decimal(18,2)").as("l_extendedprice"),
      col("l_returnflag"),
      col("l_shipdate"))
    graft.ops.Profile.profile(li, Seq("l_orderkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"))
  }

  /** Incremental near-dup candidate generation
    * ([[graft.dedup.Dedup.minhashCandidatesAgainstIndex]]): the
    * even-doc_id half plays yesterday's PERSISTED bucket index, the
    * odd half today's new docs — every candidate pair touching ≥1 new
    * doc emerges from joining the new bucket rows against the index
    * (~20-byte rows, history never re-shingled), and within-history
    * pairs are never regenerated. The daily-fold contract of the
    * sketch profile store applied to the MinHash index, in the
    * driver's hash gate.
    */
  val q111_incremental_minhash: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val half = (p: Int) => docs.where(pmod(col("doc_id"), lit(2)) === p)
    val index = Dedup.minhashBuckets(half(0), "doc_id", "text")
    val fresh = Dedup.minhashBuckets(half(1), "doc_id", "text")
    Dedup.minhashCandidatesAgainstIndex(index, fresh)
      .orderBy("id_a", "id_b")
  }

  /** Distributed BPE merge training ([[graft.ops.Bpe.train]]):
    * 6 merges over the top-200 word dictionary, then the trained
    * tokenizer's segmentation of that dictionary — (word, cnt, seg,
    * n_symbols). The corpus is scanned once (word counts); the merge
    * loop runs on the bounded dictionary with a 1-row argmax per
    * round (the bounded-collect class). The oracle replays all six
    * rounds as unrolled CTE stages sharing the same replace-based
    * exact-greedy merge expression.
    */
  val q112_bpe_train: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val merges = graft.ops.Bpe.train(docs, "text", numMerges = 6, topWords = 200)
    graft.ops.Bpe.segmentWords(docs, "text", merges, topWords = 200)
      .orderBy("word")
  }

  /** Corpus tokenization under the trained BPE model
    * ([[graft.ops.Bpe.tokenCounts]]): per-doc whitespace-token and
    * BPE-symbol counts — the token-budget accounting pass of a
    * training-data pipeline. The segmentation dictionary is bounded
    * (top-200 words) and broadcast; off-dictionary words fall back to
    * character count; the corpus side is one scan + one hash agg on
    * the 8-byte doc id.
    */
  val q113_bpe_tokens: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val merges = graft.ops.Bpe.train(docs, "text", numMerges = 6, topWords = 200)
    graft.ops.Bpe.tokenCounts(docs, "doc_id", "text", merges,
        topWords = 200, carry = Seq("lang"))
      .orderBy("doc_id")
  }

  /** Integer-exact multinomial Naive Bayes
    * ([[graft.ops.NaiveBayes]]): train a language classifier on the
    * 80% hold-in (doc_id % 5 ≠ 0), score the 20% hold-out — per doc
    * the minimum-surprisal class, its total surprisal in eighth-bits
    * (Mitchell integer log2, the q106 discipline) and the margin to
    * the runner-up. Training is two map-side-partial aggregations;
    * scoring is token-stream × L classes with the count table joined
    * by key and a per-doc argmin window.
    */
  val q114_nb_classifier: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.ops.NaiveBayes.trainScore(
        docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(5)) === 0),
        "lang", "doc_id", "text", Seq("lang"))
      .orderBy("doc_id")
  }

  /** Real image-header probing at corpus scale
    * ([[graft.functions.ImageDims]] over
    * [[graft.multimodal.MediaHeaders.parseImage]]): deterministic
    * PNG / GIF / JPEG container bytes are laid out per spec from each
    * doc id (BE32 IHDR dims, LE16 GIF screen descriptor, BE16 SOF0
    * frame header), then parsed back by the native codegen'd
    * expression — pinning the construct∘parse round trip through
    * real byte layouts in the driver's hash gate (the golden-fixture
    * spec pins the parser against hand-laid headers independently).
    * Map-only, stays in whole-stage codegen; no mapPartitions stage.
    */
  val q115_image_header_probe: Q = (s, d) => {
    val base = Tables.documents(s, d).select(col("doc_id"),
      (pmod(col("doc_id"), lit(800)) + 16).cast("int").as("w"),
      (pmod(col("doc_id"), lit(600)) + 16).cast("int").as("h"),
      pmod(col("doc_id"), lit(3)).as("f"))
    val pngHex = concat(lit("89504E470D0A1A0A0000000D49484452"),
      lpad(hex(col("w")), 8, "0"), lpad(hex(col("h")), 8, "0"), lit("0806000000"))
    val gifHex = concat(lit("474946383961"),
      lpad(hex(expr("w % 256")), 2, "0"), lpad(hex(expr("w div 256")), 2, "0"),
      lpad(hex(expr("h % 256")), 2, "0"), lpad(hex(expr("h div 256")), 2, "0"))
    val jpgHex = concat(lit("FFD8FFC0001108"),
      lpad(hex(col("h")), 4, "0"), lpad(hex(col("w")), 4, "0"),
      lit("03012200021101031101"))
    val bin = unhex(when(col("f") === 0, pngHex)
      .when(col("f") === 1, gifHex).otherwise(jpgHex))
    base.select(col("doc_id"), graft.functions.ImageDims(bin).as("m"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.width").as("width"), col("m.height").as("height"))
      .orderBy("doc_id")
  }

  /** Real WAV-header probing through the batched decode stage
    * ([[graft.multimodal.Multimodal.probeMetadata]] with the
    * header-parsing codec): spec-laid RIFF/WAVE bytes (fmt chunk
    * sample rate + byte rate, data chunk size) per doc id, probed by
    * the chunk walker — the mapPartitions plumbing (batch shape,
    * metadata struct, Result-convention errors) carrying REAL parsing
    * instead of the stub. duration_ms = data bytes · 1000 div byte
    * rate, exact integers on both sides.
    */
  val q116_wav_probe: Q = (s, d) => {
    val base = Tables.documents(s, d).select(col("doc_id"),
      (lit(8000) + pmod(col("doc_id"), lit(8)) * 1000).cast("int").as("rate"),
      ((pmod(col("doc_id"), lit(1000)) + 1) * 100).cast("int").as("dsz"))
    def le16(e: String) = concat(
      lpad(hex(expr(s"($e) % 256")), 2, "0"),
      lpad(hex(expr(s"($e) div 256")), 2, "0"))
    def le32(e: String) = concat(le16(s"($e) % 65536"), le16(s"($e) div 65536"))
    val wavHex = concat(lit("52494646"), le32("dsz + 36"), lit("57415645"),
      lit("666D7420"), lit("10000000"), lit("01000100"),
      le32("rate"), le32("rate * 2"), lit("02001000"),
      lit("64617461"), le32("dsz"))
    val withBin = base.select(col("doc_id"), unhex(wavHex).as("bin"))
    graft.multimodal.Multimodal.probeMetadata(withBin, "doc_id", "bin",
        graft.multimodal.Multimodal.Audio,
        codec = graft.multimodal.Multimodal.HeaderCodec)
      .select(col("id").as("doc_id"),
        col("meta.sample_rate").as("sample_rate"),
        col("meta.duration_ms").as("duration_ms"))
      .orderBy("doc_id")
  }

  /** Product-quantization ANN with integer ADC readback
    * ([[graft.sim.Similarity.pqTrain]]/`pqTopK`, Jégou et al. 2011):
    * 4 subspaces × 16 dims, 4-centroid spherical codebooks from the
    * deterministic sampled k-means (same hash-ordered sample per
    * subspace), corpus encoded to 4 small codes, queries scored by
    * per-subspace int8 lookup tables summed as EXACT integers — the
    * compressed-corpus ANN scan (4 B/vector instead of 256 B), fully
    * replayed by the oracle. Encode is a constant-width codegen'd
    * projection; scoring joins the tiny broadcast query tables and
    * ends in the bounded-heap top-k.
    */
  val q117_pq_adc: Q = (s, d) => {
    val e = Scale.fanOut(Tables.embeddings(s, d))
    val model = Similarity.pqTrain(e, "vec_id", "embedding",
      m = 4, ksub = 4, iters = 1, sampleN = 64)
    Similarity.pqTopK(e, "vec_id", "embedding",
        e.where(col("vec_id") < 3), "vec_id", "embedding", k = 5, model)
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ: the FAISS-layout web-scale ANN composition
    * ([[graft.sim.Similarity.ivfPqTopKAuto]]) — the q79 coarse IVF
    * partition (4 cells, nProbe 2) restricts candidates, and the q117
    * PQ codes score them with exact-integer ADC lookups. The corpus
    * carries ~5 B/vector (cell + 4 codes); each query touches only
    * its probed cells through a broadcast join on the cell id. Both
    * quantizers train on the same bounded hash-ordered sample, so the
    * full index build replays in the oracle.
    */
  val q118_ivfpq: Q = (s, d) => {
    val e = Scale.fanOut(Tables.embeddings(s, d))
    Similarity.ivfPqTopKAuto(e, "vec_id", "embedding",
        e.where(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, numCells = 4, nProbe = 2, m = 4, ksub = 4,
        iters = 1, sampleN = 64)
      .orderBy("query_id", "rank")
  }

  /** Gopher-rule composite quality gate
    * ([[graft.ops.TextStats.gopherRules]], Rae et al. 2021 §A.1.1):
    * per-doc rule booleans + the keep conjunction — word-count
    * bounds, integer cross-multiplied mean word length, symbol
    * ratio, stop-list hits, repeated-word fraction. One map-only
    * projection, no explode/shuffle/HOF; thresholds tuned to the
    * fixture corpus so both branches of every rule appear.
    */
  val q119_gopher_rules: Q = (s, d) =>
    TextStats.gopherRules(Tables.documents(s, d), "doc_id", "text",
        carry = Seq("lang"), minWords = 10, maxWords = 10000, stopMin = 1)
      .orderBy("doc_id")

  /** DSIR importance scores ([[graft.ops.Dsir]], Xie et al. 2023):
    * hashed-unigram bucket counts (target = English docs, raw = the
    * whole corpus), integer Mitchell-log likelihood-ratio weights,
    * per-doc summed score. Train = one bounded-bucket aggregation;
    * score = token stream ⋈ broadcast 64-row λ table + one doc-id
    * aggregation. The full train→score lifecycle in one query.
    */
  val q120_dsir_scores: Q = (s, d) =>
    Dsir.selectScores(Tables.documents(s, d), "doc_id", "text",
        isTarget = col("lang") === "en", numBuckets = 64,
        carry = Seq("lang"))
      .orderBy("doc_id")

  /** Containment / quote detection ([[graft.dedup.Dedup.containmentPairs]]):
    * rare-shingle inverted index (df ≤ 20), bounded pair expansion,
    * asymmetric |A∩B|/|A| both ways ×1000 integer — surfaces the
    * short-doc-quoted-in-long-doc pairs MinHash Jaccard structurally
    * misses.
    */
  val q121_containment: Q = (s, d) =>
    Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
        shingleWidth = 3, maxDf = 20, minContX1000 = 300, minInter = 3)
      .orderBy("id_a", "id_b")

  /** Token-budget corpus selection ([[graft.ops.Mixture.budgetSelect]])
    * fed by the integer-milli quality score (q33's formula — the
    * floor(×1000) of a hash-proven double is itself engine-exact):
    * bounded score-bucket histogram → cumulative tokens over the
    * bucket table (q92's justified bounded global window) → greedy
    * whole-bucket cut → broadcast filter. The "spend the training
    * budget on the best documents" gate with no corpus-wide sort.
    */
  val q122_budget_select: Q = (s, d) => {
    val scored = Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      floor(TextFns.qualityScore(col("text")) * 1000).cast("long").as("score"),
      TextFns.tokenCount(col("text")).as("n_tokens"))
    Mixture.budgetSelect(scored, "doc_id", "score", "n_tokens",
        budget = 8000L, carry = Seq("lang"))
      .orderBy("doc_id")
  }

  /** ANN recall@k evaluation ([[graft.sim.Similarity.recallAtK]]):
    * the q79 IVF configuration scored against exact brute-force
    * ground truth on the same three queries — per-query hit counts
    * and integer recall×1000. The tune-before-deploy gate of every
    * approximate index.
    */
  val q123_ann_recall: Q = (s, d) => {
    val e = Scale.fanOut(Tables.embeddings(s, d))
    val qs = e.where(col("vec_id") < 3)
    val ann = Similarity.ivfTopKAuto(e, "vec_id", "embedding",
      qs, "vec_id", "embedding",
      k = 5, numCells = 4, nProbe = 2, iters = 1, sampleN = 64)
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      qs, "vec_id", "embedding", k = 5)
    Similarity.recallAtK(ann, exact, k = 5).orderBy("query_id")
  }

  /** PMI collocation mining ([[graft.ops.TextStats.pmiCollocations]],
    * Church & Hanks 1990): top word pairs by integer-Mitchell
    * pointwise mutual information over the corpus bigram table — the
    * multi-word-expression / tokenizer-vocab-seeding statistic.
    */
  val q124_pmi_collocations: Q = (s, d) =>
    TextStats.pmiCollocations(Tables.documents(s, d), "doc_id", "text",
      minCount = 5, k = 50)

  /** Fuzzy entity resolution ([[graft.dedup.Dedup.fuzzyValueMatches]]):
    * all distinct part-name pairs within Levenshtein distance 2, via
    * complete positional-prefix blocking + codegen'd edit-distance
    * verify — never
    * an O(n²) cross join.
    */
  val q125_fuzzy_names: Q = (s, d) =>
    Dedup.fuzzyValueMatches(Tables.part(s, d), "p_name",
        maxDist = 2, gramLen = 2)
      .orderBy("name_a", "name_b")

  /** Join-key skew report ([[graft.ops.Profile.skewReport]]): the k
    * heaviest l_suppkey values with exact counts and per-mille row
    * share — the pre-shuffle straggler check; bounded-heap top-k
    * over the reduced key table, never a global sort.
    */
  val q126_skew_report: Q = (s, d) =>
    graft.ops.Profile.skewReport(Tables.lineitem(s, d), "l_suppkey", k = 10)
      .orderBy("rank")

  /** Embedding centroid drift ([[graft.sim.Similarity.centroidDrift]]):
    * per-label int8-quantized centroid sums (exact integers) and all
    * pairwise centroid cosines — the index-health / corpus-drift
    * report.
    */
  val q127_centroid_drift: Q = (s, d) =>
    Similarity.centroidDrift(Tables.embeddings(s, d), "label", "embedding")
      .orderBy("g_a", "g_b")

  /** Content-defined chunking dedup ([[graft.dedup.Dedup.cdcChunkStats]],
    * LBFS-style CDC at token granularity): local-content chunk
    * boundaries, per-chunk corpus dedup, per-doc duplicated-chunk
    * fraction — the chunk-granular (and proportionally cheaper)
    * complement of the n-gram span stats.
    */
  val q128_cdc_chunks: Q = (s, d) =>
    Dedup.cdcChunkStats(Tables.documents(s, d), "doc_id", "text",
        boundaryMod = 16)
      .orderBy("doc_id")

  /** Winnowing fingerprint matches ([[graft.dedup.Dedup.winnowMatches]],
    * Schleimer-Wilkerson-Aiken 2003 / MOSS): per-window minimum
    * k-gram hashes as a ~2/(w+1)-density fingerprint sample with a
    * shared-run guarantee — overlap detection at a fraction of the
    * full positional-hash shuffle.
    */
  val q129_winnow_matches: Q = (s, d) =>
    Dedup.winnowMatches(Tables.documents(s, d), "doc_id", "text",
        shingleWidth = 3, window = 4, maxDf = 20, minShared = 2)
      .orderBy("id_a", "id_b")

  /** Token-blocklist gate ([[graft.ops.TextStats.blocklistGate]],
    * C4 §2.2 badwords shape): per-doc hit counts + distinct blocked
    * terms + keep decision, blocklist broadcast, audit-trail
    * semantics (counts, not silent drops).
    */
  val q130_blocklist_gate: Q = (s, d) =>
    TextStats.blocklistGate(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("slow", "big", "the"), maxHits = 2, carry = Seq("lang"))
      .orderBy("doc_id")

  /** Cross-source NEAR-duplication matrix
    * ([[graft.dedup.Dedup.crossSourceNearDupMatrix]]): MinHash band
    * buckets shared by each source pair — the double-counting check
    * before mixture weights are set (exact-fingerprint variant
    * available; this fixture's planted dups are near-dups).
    */
  val q131_cross_source_dups: Q = (s, d) =>
    Dedup.crossSourceNearDupMatrix(Tables.documents(s, d), "doc_id",
        "text", "source")
      .orderBy("src_a", "src_b")

  /** Tokenizer coverage / fertility by language
    * ([[graft.ops.Bpe.coverageReport]]): OOV rate and BPE symbols
    * per word under the q112-trained model — the
    * per-slice-tokenizer-health check.
    */
  val q132_bpe_coverage: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val merges = graft.ops.Bpe.train(docs, "text", numMerges = 6, topWords = 20)
    graft.ops.Bpe.coverageReport(docs, "text", merges,
        topWords = 20, groupCol = "lang")
      .orderBy("lang")
  }

  /** Per-language token budgets ([[graft.ops.Mixture.budgetSelectBy]]):
    * every language gets its own 2000-token quota filled best-first —
    * the balanced-multilingual-mixture gate (q122's global pot,
    * keyed).
    */
  val q133_budget_by_lang: Q = (s, d) => {
    val scored = Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      floor(TextFns.qualityScore(col("text")) * 1000).cast("long").as("score"),
      TextFns.tokenCount(col("text")).as("n_tokens"))
    Mixture.budgetSelectBy(scored, "lang", "doc_id", "score", "n_tokens",
        budgetPerGroup = 2000L)
      .orderBy("doc_id")
  }

  /** Hard-negative mining ([[graft.sim.Similarity.hardNegatives]],
    * DPR-style): per query, the top-3 most-similar corpus vectors
    * with a DIFFERENT label — the contrastive-training pair
    * generator.
    */
  val q134_hard_negatives: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    Similarity.hardNegatives(e, "vec_id", "embedding", "label",
        e.where(col("vec_id") < 5), "vec_id", "embedding", "label", k = 3)
      .orderBy("query_id", "rank")
  }

  /** Cluster-balanced sampling ([[graft.sim.Similarity.assignCells]]
    * + [[graft.ops.Mixture.prioritySampleBy]]): assign every vector
    * its k-means cell, then a uniform deterministic 10-per-cell
    * sample — "don't let one dense topic eat the mixture"
    * (DataComp-style cluster balancing).
    */
  val q135_cluster_balance: Q = (s, d) => {
    val e = Scale.fanOut(Tables.embeddings(s, d))
    val assigned = Similarity.assignCells(e, "vec_id", "embedding",
      numCells = 4, iters = 1, sampleN = 64)
    Mixture.prioritySampleBy(assigned, Seq("cell"), "id", lit(1L), 10)
      .select(col("id").as("vec_id"), col("cell").cast("int").as("cell"))
      .orderBy("vec_id")
  }

  /** Per-source quantile normalization
    * ([[graft.ops.TextStats.quantileNormalize]]): every doc's
    * milli-quality mapped to its percentile within its own source —
    * the cross-source-comparable score a uniform "top 30%" cut
    * needs.
    */
  val q136_quantile_norm: Q = (s, d) => {
    val scored = Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      floor(TextFns.qualityScore(col("text")) * 1000).cast("long").as("score"))
    TextStats.quantileNormalize(scored, "doc_id", "source", "score")
      .orderBy("doc_id")
  }

  /** Fuzzy decontamination
    * ([[graft.dedup.Dedup.nearDupContamination]]): corpus docs
    * (doc_id % 13 ≠ 0) flagged when a MinHash band bucket collides
    * with the eval split (doc_id % 13 = 0) — the near-dup-strength
    * upgrade of q63's exact check.
    */
  val q137_fuzzy_decontam: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.nearDupContamination(
        docs.where(col("doc_id") % 13 =!= 0), "doc_id", "text",
        docs.where(col("doc_id") % 13 === 0), "doc_id", "text",
        carry = Seq("lang"))
      .orderBy("doc_id")
  }

  /** Temperature mixture sampling
    * ([[graft.ops.Mixture.temperatureSample]], XLM-R §3.1): α = 0.7
    * per-source downsampling rates from the integer Mitchell log AND
    * its inverse (exp2E8) — big sources flattened toward p^α, the
    * smallest source kept whole, applied as the deterministic hash
    * filter.
    */
  val q138_temperature_mix: Q = (s, d) =>
    Mixture.temperatureSample(Tables.documents(s, d), "doc_id", "source",
        TextFns.tokenCount(col("text")), alphaNum = 7, alphaDen = 10)
      .select(col("doc_id"), col("source"), col("rate_pm"), col("sample_key"))
      .orderBy("doc_id")

  /** Entity clusters: connected components over the q125 fuzzy name
    * pairs — each typo'd/variant name mapped to its canonical
    * (lexicographic-min) cluster representative. The same
    * large-star/small-star machinery as document near-dup clusters
    * (q65), working over STRING ids.
    */
  val q139_entity_clusters: Q = (s, d) => {
    val pairs = Dedup.fuzzyValueMatches(Tables.part(s, d), "p_name",
        maxDist = 2, gramLen = 2)
      .select(col("name_a").as("id_a"), col("name_b").as("id_b"))
    Dedup.nearDupClusters(pairs)
      .select(col("id").as("name"), col("cluster_id").as("canon"))
      .orderBy("name")
  }

  /** Robust MAD outlier flags ([[graft.ops.Profile.outlierFlags]],
    * Hampel 1974): per part type, retail prices beyond 3 median
    * absolute deviations — the breakdown-resistant data-quality
    * gate.
    */
  val q140_price_outliers: Q = (s, d) =>
    graft.ops.Profile.outlierFlags(Tables.part(s, d), "p_partkey",
        "p_type", "p_retailprice", k = 2.0)
      .orderBy("p_partkey")

  /** Batch inactivity-gap sessionization — the batch mirror of
    * [[graft.streaming.Stateful.sessionize]]'s semantics: a new
    * session starts when a user's gap exceeds 10 minutes; per
    * session, event count, span, and exact value sum. One per-user
    * window pass (lag → gap flag → running session index) — never a
    * global window; epoch-second arithmetic so the gap rule is
    * engine-exact.
    */
  val q141_sessionization: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("__prev", lag("ts", 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        unix_timestamp(col("ts")) - unix_timestamp(col("__prev")) > 600, 1L)
        .otherwise(0L))
      .withColumn("session_idx", sum("__new").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("t_start"), max("ts").as("t_end"),
        decSum(col("value"), "(18,2)").as("total_value"))
      .withColumn("span_sec",
        unix_timestamp(col("t_end")) - unix_timestamp(col("t_start")))
      .orderBy("user_id", "session_idx")
  }

  /** Real PNG pixel decode
    * ([[graft.multimodal.Multimodal.pngPixelStats]]): per doc, a
    * deterministic RGBA test pattern is PNG-ENCODED (real deflate,
    * row filters cycling through all five types), then DECODED back
    * through the pure-JDK zlib + unfilter + expansion path, and the
    * integer ×100 channel means are reported. The DuckDB twin
    * computes the same means straight from the closed-form pixel
    * formula — a hash match proves the decoder reproduced every
    * pixel through a real compressed PNG, not a stub.
    */
  val q142_png_pixels: Q = (s, d) => {
    val synth = udf((id: Long) => graft.multimodal.PngCodec.testImage(
      id, (id % 13 + 4).toInt, (id % 11 + 4).toInt))
    val media = Tables.documents(s, d)
      .select(col("doc_id"), synth(col("doc_id")).as("png"))
    graft.multimodal.Multimodal.pngPixelStats(media, "doc_id", "png")
      .select(col("id").as("doc_id"), col("width"), col("height"),
        col("mean_r_x100"), col("mean_g_x100"), col("mean_b_x100"),
        col("mean_a_x100"))
      .orderBy("doc_id")
  }

  /** Exact set-similarity self-join ([[graft.dedup.Dedup.setSimJoin]],
    * All-Pairs/PPJoin prefix filtering): every doc pair whose 3-word
    * shingle sets overlap at Jaccard ≥ 0.6, with the EXACT integer
    * per-mille similarity — the deterministic complement to the
    * MinHash near-dup queries (q29/q34): no probabilistic misses, no
    * false positives, candidates still generated by a bounded prefix
    * join instead of the O(n²) cross join the oracle runs.
    */
  val q143_setsim_join: Q = (s, d) =>
    Dedup.setSimJoin(Tables.documents(s, d), "doc_id",
        TextFns.shingles(col("text"), 3), tauX1000 = 600,
        itemKey = HashFns.hash61)
      .orderBy("id_a", "id_b")

  /** Multiset token F1 over the q143 matched near-dup pairs
    * ([[graft.ops.TextStats.tokenF1]], the SQuAD overlap metric):
    * set-similarity said WHICH pairs match; this reports HOW —
    * exact-ppm precision/recall/F1 with multiplicity, the column a
    * decontam audit publishes next to each matched pair.
    */
  val q299_token_f1: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.setSimJoin(docs, "doc_id",
      TextFns.shingles(col("text"), 3), tauX1000 = 600,
      itemKey = HashFns.hash61)
    TextStats.tokenF1(pairs, docs, "doc_id", "text")
      .orderBy("id_a", "id_b")
  }

  /** Ordered event funnel ([[graft.ops.Funnel.funnelTimes]]): per
    * user, the earliest view → click → purchase completion chain
    * (step i counts only strictly after step i−1 — order is the
    * point), with steps-completed depth and whole-funnel seconds.
    * S filtered scans + user-keyed min aggregations; never a
    * per-user event-history window.
    */
  val q144_event_funnel: Q = (s, d) =>
    graft.ops.Funnel.funnelTimes(Tables.events(s, d), "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"))
      .orderBy("user_id")

  /** The aggregate funnel report ([[graft.ops.Funnel.funnelReport]]):
    * per step, users reaching it and integer per-mille conversion
    * from the previous step and from the top — a broadcast-sized
    * table derived from q144's per-user times.
    */
  val q145_funnel_report: Q = (s, d) =>
    graft.ops.Funnel.funnelReport(Tables.events(s, d), "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"))
      .orderBy("step")

  /** Real PNG grid pixel features
    * ([[graft.multimodal.Multimodal.pngGridFeatures]]): the q142 test
    * pattern decoded back through real zlib, then the 2×2-cell
    * color-layout descriptor (integer per-channel RGB means per cell)
    * — emitted relationally as (doc_id, pos, feature) so the DuckDB
    * twin recomputes every feature from the closed-form pixel formula
    * and a hash match certifies the feature pipeline end to end.
    */
  val q146_png_grid_features: Q = (s, d) => {
    val synth = udf((id: Long) => graft.multimodal.PngCodec.testImage(
      id, (id % 13 + 4).toInt, (id % 11 + 4).toInt))
    val media = Tables.documents(s, d)
      .select(col("doc_id"), synth(col("doc_id")).as("png"))
    graft.multimodal.Multimodal.pngGridFeatures(media, "doc_id", "png", grid = 2)
      .select(col("id").as("doc_id"),
        posexplode(col("features")).as(Seq("pos", "feature")))
      .select(col("doc_id"), col("pos").cast("bigint").as("pos"), col("feature"))
      .orderBy("doc_id", "pos")
  }

  /** Ranking-quality evaluation ([[graft.sim.Similarity.rankEval]]):
    * MRR + integer nDCG@5 of the q123 IVF index against the same
    * brute-force ground truth — recall says whether the true
    * neighbors were found, this says where the index ranked them.
    */
  val q147_rank_eval: Q = (s, d) => {
    val e = Scale.fanOut(Tables.embeddings(s, d))
    val qs = e.where(col("vec_id") < 3)
    val ann = Similarity.ivfTopKAuto(e, "vec_id", "embedding",
      qs, "vec_id", "embedding",
      k = 5, numCells = 4, nProbe = 2, iters = 1, sampleN = 64)
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      qs, "vec_id", "embedding", k = 5)
    Similarity.rankEval(ann, exact, k = 5).orderBy("query_id")
  }

  /** Signed random projection
    * ([[graft.sim.Similarity.randomProjection]], Achlioptas ±1 JL):
    * 64-dim embeddings cut to 16 integer dimensions over the
    * int8-quantized space — deterministic hash-drawn ±1 matrix, so
    * the projection is integer-exact on both engines. Unpivoted to
    * (vec_id, pos, value) for the oracle.
    */
  val q148_random_projection: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val scales = Similarity.sqScales(e, "embedding")
    Similarity.randomProjection(e, "vec_id", "embedding", outDim = 16, scales)
      .select(col("vec_id"), posexplode(col("rp")).as(Seq("pos", "value")))
      .select(col("vec_id"), col("pos").cast("bigint").as("pos"), col("value"))
      .orderBy("vec_id", "pos")
  }

  /** Recall of ANN in the PROJECTED space (q148's 16-dim integer
    * vectors) against full-dimension brute-force ground truth — the
    * measurement that justifies a JL dimension cut before an
    * expensive similarity pass: integer-dot ranking in rp space,
    * exact cosine ranking in the original space, recall@5 joined per
    * query.
    */
  val q149_rp_recall: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val scales = Similarity.sqScales(e, "embedding")
    val rp = Similarity.randomProjection(e, "vec_id", "embedding", 16, scales)
    val qrp = rp.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("rp").as("qrp"))
    val scored = rp.crossJoin(broadcast(qrp))
      .select(col("query_id"), col("vec_id").as("id"),
        Similarity.sqDot(col("rp"), col("qrp")).as("dot"))
    val ann = graft.plans.TopK.topKPerKey(scored, Seq("query_id"),
      col("dot"), Seq(col("id")), 5)
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      e.where(col("vec_id") < 3), "vec_id", "embedding", k = 5)
    Similarity.recallAtK(ann, exact, k = 5).orderBy("query_id")
  }

  /** Exact cross-corpus decontamination
    * ([[graft.dedup.Dedup.setSimJoinAgainst]]): every corpus doc
    * whose 3-shingle set matches an eval-set doc at exact Jaccard ≥
    * 0.6 — the deterministic complement to q137's MinHash-bucket
    * form (no probabilistic misses). Eval set = every 50th doc, so
    * exact copies (J = 1000) and the corpus's natural near-dups both
    * surface.
    */
  val q150_exact_decontam: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.setSimJoinAgainst(docs, "doc_id",
        TextFns.shingles(col("text"), 3),
        docs.where(col("doc_id") % 50 === 0), "doc_id",
        TextFns.shingles(col("text"), 3),
        tauX1000 = 600, itemKey = HashFns.hash61)
      .orderBy("id", "ref_id")
  }

  /** Weekly retention cohorts ([[graft.ops.Funnel.retentionCohorts]]):
    * users grouped by first-event week; per (cohort, week-offset) the
    * distinct users still active and the integer per-mille retention
    * — the analytics staple next to q144's funnel. Two user-keyed
    * partial aggregations + one user-keyed join; the report itself is
    * a weeks²-bounded broadcast-sized table.
    */
  val q151_retention_cohorts: Q = (s, d) =>
    graft.ops.Funnel.retentionCohorts(Tables.events(s, d), "user_id", "ts")
      .orderBy("cohort_week", "week_offset")

  /** TextRank keywords ([[graft.ops.TextStats.textRank]], Mihalcea &
    * Tarau 2004): integer-exact damped PageRank (5 iterations,
    * 1e-12-unit fixed point) over the corpus word co-occurrence
    * graph, top-10 words — graph centrality as the complement to
    * q72's TF-IDF and q124's PMI. The corpus is scanned once; the
    * iterations run on the checkpointed vocab²-bounded edge table
    * with node-keyed shuffles.
    */
  val q152_textrank: Q = (s, d) =>
    TextStats.textRank(Tables.documents(s, d), "doc_id", "text",
      iters = 5, k = 10)

  /** kNN label-noise detection
    * ([[graft.sim.Similarity.labelNoise]]): q76's bucketed kNN
    * self-join (k=3, 8-bit signatures) + label joins → per-vector
    * neighbor-disagreement counts and the majority `suspect` flag —
    * the classical annotation-error screen over an embedded, labeled
    * training set.
    */
  val q153_label_noise: Q = (s, d) =>
    Similarity.labelNoise(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", k = 3, dim = 64, numBits = 8)
      .orderBy("vec_id")

  /** Ingest-order novelty curve ([[graft.dedup.Dedup.noveltyScores]]):
    * per document, the per-mille share of its distinct 3-shingles
    * never seen in any earlier document — the diminishing-returns
    * signal a curation pipeline watches while consuming a source.
    * Shuffles only 8-byte shingle hashes; no windows.
    */
  val q154_novelty_curve: Q = (s, d) =>
    Dedup.noveltyScores(Tables.documents(s, d), "doc_id",
        TextFns.shingles(col("text"), 3), itemKey = HashFns.hash61)
      .select(col("id").as("doc_id"), col("n_shingles"),
        col("n_seen_before"), col("novelty_x1000"))
      .orderBy("doc_id")

  /** PSI distribution drift ([[graft.ops.Profile.psiDrift]]): per
    * source, the integer population-stability index of its n_chars
    * distribution against the corpus — Laplace-smoothed ppm
    * probabilities × the Mitchell eighth-bit log2, summed over the
    * global bin set. The corpus is scanned once into histograms;
    * everything after is (sources × bins)-bounded.
    */
  val q155_psi_drift: Q = (s, d) =>
    graft.ops.Profile.psiDrift(Tables.documents(s, d), "source", "n_chars",
        binWidth = 50)
      .orderBy("source")

  /** Deequ-style expectation report ([[graft.ops.Profile.rowChecks]]
    * + [[graft.ops.Profile.uniquenessCheck]]): one scan of lineitem
    * evaluates every row-level predicate (the predicate STRINGS are
    * shared verbatim with the DuckDB twin via
    * [[LineitemChecks]], so the two engines parse identical text);
    * the primary-key uniqueness check is its own key-hashed
    * aggregation. One output row per check.
    */
  val q156_data_expectations: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    graft.ops.Profile.rowChecks(li, LineitemChecks)
      .unionByName(graft.ops.Profile.uniquenessCheck(
        li, Seq("l_orderkey", "l_linenumber"), "pk_unique"))
      .orderBy("check")
  }

  /** Referential-integrity + join-coverage report
    * ([[graft.ops.Profile.refIntegrity]]) over the five TPC-H FK
    * edges: orphan counts per child and referenced-parent coverage —
    * one full-outer key join per edge over already-reduced distinct
    * keys.
    */
  val q157_ref_integrity: Q = (s, d) =>
    graft.ops.Profile.refIntegrity(Seq(
      ("customer.nationkey->nation", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey"),
      ("lineitem.orderkey->orders", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey"),
      ("lineitem.partkey->part", Tables.lineitem(s, d), "l_partkey",
        Tables.part(s, d), "p_partkey"),
      ("lineitem.suppkey->supplier", Tables.lineitem(s, d), "l_suppkey",
        Tables.supplier(s, d), "s_suppkey"),
      ("orders.custkey->customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey")))
      .orderBy("relation")

  /** Keyed snapshot diff ([[graft.ops.Profile.snapshotDiff]]): the
    * incremental-reprocessing pre-flight — today's drop vs
    * yesterday's, every key classified added/removed/changed/
    * unchanged by one key-partitioned full-outer join. Snapshot B is
    * derived deterministically from A (drops % 13, edits % 7, re-keyed
    * adds % 11) so both engines diff the identical pair; the catalog
    * row aggregates class counts.
    */
  val q158_snapshot_diff: Q = (s, d) => {
    val a = Tables.documents(s, d)
    val b0 = a.where(col("doc_id") % 13 =!= 0)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" edited"))).otherwise(col("text")))
    val adds = a.where(col("doc_id") % 11 === 0)
      .withColumn("doc_id", col("doc_id") + 10000000L)
    graft.ops.Profile.snapshotDiff(a, b0.unionByName(adds),
        Seq("doc_id"), Seq("text", "lang", "source"))
      .groupBy("diff_status").agg(count(lit(1)).as("n_keys"))
      .orderBy("diff_status")
  }

  /** Real BMP pixel decode
    * ([[graft.multimodal.Multimodal.bmpPixelStats]]): the q142 test
    * pattern BMP-ENCODED (real 24-bit BGR, bottom-up rows, 4-byte
    * stride padding) then DECODED back through [[graft.multimodal.BmpCodec]],
    * integer ×100 channel means out. The twin is the identical
    * closed-form pixel sum as q142 — a hash match proves the BMP
    * stride/BGR/row-order path reproduced every pixel.
    */
  val q159_bmp_pixels: Q = (s, d) => {
    val synth = udf((id: Long) => graft.multimodal.BmpCodec.testImage(
      id, (id % 13 + 4).toInt, (id % 11 + 4).toInt))
    val media = Tables.documents(s, d)
      .select(col("doc_id"), synth(col("doc_id")).as("bmp"))
    graft.multimodal.Multimodal.bmpPixelStats(media, "doc_id", "bmp")
      .select(col("id").as("doc_id"), col("width"), col("height"),
        col("mean_r_x100"), col("mean_g_x100"), col("mean_b_x100"),
        col("mean_a_x100"))
      .orderBy("doc_id")
  }

  /** Real WAV PCM decode
    * ([[graft.multimodal.Multimodal.wavPcmStats]]): a deterministic
    * full-range 16-bit waveform is WAV-encoded, decoded back through
    * the RIFF chunk walk into actual amplitudes, and integer-exact
    * sample stats (peak, Σ|s|, ⌊Σs²/n⌋, sign crossings) reported —
    * the audio analog of q142: real bytes → real samples, closed-form
    * oracle.
    */
  val q160_wav_pcm: Q = (s, d) => {
    val synth = udf((id: Long) => graft.multimodal.WavCodec.testWav(
      id, (id % 200 + 50).toInt, (8000 + (id % 8) * 1000).toInt))
    val media = Tables.documents(s, d)
      .select(col("doc_id"), synth(col("doc_id")).as("wav"))
    graft.multimodal.Multimodal.wavPcmStats(media, "doc_id", "wav")
      .select(col("id").as("doc_id"), col("sample_rate"), col("n_samples"),
        col("peak"), col("sum_abs"), col("energy_mean"),
        col("zero_crossings"))
      .orderBy("doc_id")
  }

  /** Triangle counting + clustering coefficients
    * ([[graft.ops.TextStats.wordTriangles]], Suri & Vassilvitskii
    * 2011 degree-ordered orientation): per word, its co-occurrence-
    * graph degree, triangle count, and integer per-mille local
    * clustering coefficient — the third graph primitive next to CC
    * (q65/q139) and PageRank (q152). The oracle twin runs the naive
    * a<b<c triple join: same triangles, different physical plan.
    */
  val q161_word_triangles: Q = (s, d) =>
    TextStats.wordTriangles(Tables.documents(s, d), "doc_id", "text")
      .orderBy("word")

  /** Pairwise association rules ([[graft.ops.Funnel.assocRules]],
    * Apriori 2-itemset stage): per ordered event-type pair over
    * (user, day) baskets, integer per-mille support / confidence /
    * lift — the market-basket staple over behavioral events. Basket
    * self-join fan-out is bounded by the event-type vocabulary, not
    * the corpus.
    */
  val q162_assoc_rules: Q = (s, d) =>
    graft.ops.Funnel.assocRules(Tables.events(s, d), "user_id",
        "event_type", "ts")
      .orderBy("x", "y")

  /** Real GIF LZW pixel decode
    * ([[graft.multimodal.Multimodal.gifPixelStats]]): a closed-form
    * indexed pattern is GIF-encoded (a REAL variable-width LZW
    * stream with periodic CLEARs) and decoded back through the full
    * LZW + palette path; the twin recomputes channel means from the
    * index and palette formulas. Third independent decompression
    * path (zlib, raw BGR, LZW) certified against closed-form pixels;
    * mean_r equals q142's by construction (same index formula,
    * identity-R palette).
    */
  val q163_gif_pixels: Q = (s, d) => {
    val synth = udf((id: Long) => graft.multimodal.GifCodec.testImage(
      id, (id % 13 + 4).toInt, (id % 11 + 4).toInt))
    val media = Tables.documents(s, d)
      .select(col("doc_id"), synth(col("doc_id")).as("gif"))
    graft.multimodal.Multimodal.gifPixelStats(media, "doc_id", "gif")
      .select(col("id").as("doc_id"), col("width"), col("height"),
        col("mean_r_x100"), col("mean_g_x100"), col("mean_b_x100"),
        col("mean_a_x100"))
      .orderBy("doc_id")
  }

  /** Join-amplification pre-flight
    * ([[graft.ops.Profile.joinAmplification]]): the exact output-row
    * contribution per join key for the lineitem⋉lineitem
    * co-purchase self-join — top-10 keys by |l|×|r| with per-mille
    * share of total output, the hot-key check run BEFORE a 100 TB
    * join. Count tables + one key join + bounded-heap top-k; never a
    * global sort.
    */
  val q164_join_amplification: Q = (s, d) =>
    graft.ops.Profile.joinAmplification(Tables.lineitem(s, d), "l_partkey",
        Tables.lineitem(s, d), "l_partkey", k = 10)
      .orderBy("rank")

  /** Heaps'-law vocabulary growth
    * ([[graft.ops.TextStats.heapsCurve]]): cumulative distinct words
    * vs cumulative tokens over 20 ingest-order buckets — the "is
    * this source exhausted" curve, aggregate complement to q154's
    * per-doc novelty. One corpus scan; the cumsum window runs over
    * the 20-row report only.
    */
  val q165_heaps_curve: Q = (s, d) =>
    TextStats.heapsCurve(Tables.documents(s, d), "doc_id", "text",
        nBuckets = 20)
      .orderBy("bucket")

  /** Image perceptual hash over REAL decoded pixels
    * ([[graft.multimodal.PixelHash.dHash]] via
    * [[graft.multimodal.Multimodal.pngDHash]]): the classic dHash —
    * 9×8 nearest-neighbor grayscale samples, one bit per horizontal
    * gradient — computed from actually-decoded PNG bytes, reported
    * as two 32-bit halves plus the bit_count hamming distance to doc
    * 0's hash (the image near-dup primitive, SimHash's multimodal
    * analog). The twin recomputes the hash from the closed-form
    * pixel pattern.
    */
  val q166_image_dhash: Q = (s, d) => {
    val synth = udf((id: Long) => graft.multimodal.PngCodec.testImage(
      id, (id % 13 + 4).toInt, (id % 11 + 4).toInt))
    val media = Tables.documents(s, d)
      .select(col("doc_id"), synth(col("doc_id")).as("png"))
    val hashed = graft.multimodal.Multimodal.pngDHash(media, "doc_id", "png")
      .select(col("id").as("doc_id"), col("dhash_lo"), col("dhash_hi"))
    val ref = hashed.where(col("doc_id") === 0)
      .select(col("dhash_lo").as("__rl"), col("dhash_hi").as("__rh"))
    hashed.crossJoin(broadcast(ref))
      .select(col("doc_id"), col("dhash_lo"), col("dhash_hi"),
        expr("CAST(bit_count(dhash_lo ^ __rl) + bit_count(dhash_hi ^ __rh) " +
          "AS BIGINT)").as("hamming_to_doc0"))
      .orderBy("doc_id")
  }

  /** Trending report ([[graft.ops.Funnel.trendingReport]]): per
    * (event type, week) counts with integer per-mille week-over-week
    * momentum — the dashboard staple; one partial aggregation, lag
    * window over the types×weeks-bounded table.
    */
  val q167_trending: Q = (s, d) =>
    graft.ops.Funnel.trendingReport(Tables.events(s, d), "event_type", "ts")
      .orderBy("event_type", "week")

  /** Acoustic fingerprint over REAL decoded PCM
    * ([[graft.multimodal.WavCodec.frameHash]] via
    * [[graft.multimodal.Multimodal.wavFrameHash]]): 65 frame
    * energies → 64 gradient bits as two 32-bit halves + bit_count
    * hamming to doc 0 — q166's audio analog; the twin recomputes
    * every frame energy from the closed-form waveform.
    */
  val q168_audio_fingerprint: Q = (s, d) => {
    val synth = udf((id: Long) => graft.multimodal.WavCodec.testWav(
      id, 65 * 64, (8000 + (id % 8) * 1000).toInt))
    val media = Tables.documents(s, d)
      .select(col("doc_id"), synth(col("doc_id")).as("wav"))
    val hashed = graft.multimodal.Multimodal.wavFrameHash(media, "doc_id",
        "wav", frameLen = 64)
      .select(col("id").as("doc_id"), col("fp_lo"), col("fp_hi"))
    val ref = hashed.where(col("doc_id") === 0)
      .select(col("fp_lo").as("__rl"), col("fp_hi").as("__rh"))
    hashed.crossJoin(broadcast(ref))
      .select(col("doc_id"), col("fp_lo"), col("fp_hi"),
        expr("CAST(bit_count(fp_lo ^ __rl) + bit_count(fp_hi ^ __rh) " +
          "AS BIGINT)").as("hamming_to_doc0"))
      .orderBy("doc_id")
  }

  /** PSI against a fixed baseline
    * ([[graft.ops.Profile.psiVsBaseline]]): the deployment form of
    * q155 — even-id documents form the frozen "training" histogram,
    * odd-id documents score against it per source, over the
    * per-group union bin set (the exact contract the streaming
    * [[graft.streaming.Stateful.psiRunning]] monitor is
    * differentially pinned to).
    */
  val q169_psi_baseline: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val baseline = docs.where(col("doc_id") % 2 === 0)
      .select(expr("CAST(n_chars div 50 AS BIGINT)").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("bc"))
    graft.ops.Profile.psiVsBaseline(docs.where(col("doc_id") % 2 === 1),
        "source", "n_chars", 50, baseline)
      .orderBy("source")
  }

  /** Zipf rank-frequency report ([[graft.ops.TextStats.zipfReport]]):
    * top-20 words with the per-rank Mitchell log-frequency drop —
    * Heaps' (q165) companion corpus statistic. One partial count +
    * bounded-heap top-k; the lead window covers ≤ 21 rows.
    */
  val q170_zipf_report: Q = (s, d) =>
    TextStats.zipfReport(Tables.documents(s, d), "doc_id", "text", k = 20)
      .orderBy("rank")

  /** REAL baseline-JPEG pixel decode
    * ([[graft.multimodal.Multimodal.jpegPixelStats]] over
    * [[graft.multimodal.JpegCodec]]) — the last decode family that
    * was stubbed through round 12. Per doc a blockwise-flat YCbCr
    * 4:4:4 fixture is JPEG-ENCODED (real Huffman entropy coding, DC
    * prediction, quantization) then DECODED back through the marker
    * parser, canonical Huffman decode, 13-bit fixed-point IDCT and
    * CCIR 601 integer color conversion; flat blocks with q=16 and
    * even samples make the lossy container exact, so the DuckDB twin
    * certifies the WHOLE pipeline from a closed-form pixel formula.
    * Map-only O(pixels) per blob; no shuffle.
    */
  val q171_jpeg_pixels: Q = (s, d) => {
    val synth = udf((id: Long) => graft.multimodal.JpegCodec.testJpeg(
      id, (id % 13 + 4).toInt, (id % 11 + 4).toInt))
    val media = Tables.documents(s, d)
      .select(col("doc_id"), synth(col("doc_id")).as("jpg"))
    graft.multimodal.Multimodal.jpegPixelStats(media, "doc_id", "jpg")
      .select(col("id").as("doc_id"), col("width"), col("height"),
        col("mean_r_x100"), col("mean_g_x100"), col("mean_b_x100"),
        col("mean_a_x100"))
      .orderBy("doc_id")
  }

  /** Persisted exact-decontamination index build
    * ([[graft.dedup.Dedup.setSimIndexBuild]]): the eval slice's
    * prefix-posting table — per eval doc, its n − ⌈τ·n⌉ + 1 rarest
    * hashed 3-shingles under the eval-df global order (dfc, t), with
    * sizes, ranks and dfs. This is the table [[graft.dedup
    * .Dedup.SetSimIndex.save]] persists and every future shard or
    * micro-batch probes ([[graft.dedup.Dedup.setSimProbeIndex]]);
    * pinning it pins the order, the prefix-length arithmetic and the
    * df counts the probe's completeness proof rests on. Eval-corpus-
    * bounded output; one agg + one df count + one per-doc ranking
    * window.
    */
  val q172_decontam_index: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.setSimIndexBuild(docs.where(col("doc_id") % 50 === 0), "doc_id",
        TextFns.shingles(col("text"), 3),
        tauX1000 = 600, itemKey = HashFns.hash61)
      .prefix
      .select(col("ref_id"), col("rk"), col("t"), col("n"), col("dfc"))
      .orderBy("ref_id", "rk")
  }

  /** Exact decontamination through the PERSISTED-index probe path
    * ([[graft.dedup.Dedup.setSimProbeIndex]] against q172's index):
    * the whole corpus probed as if it were arriving micro-batches.
    * The oracle twin is q150's cross-join ground truth VERBATIM —
    * the prefix theorem guarantees the index path (eval-df token
    * order, unseen-token df 0) verifies the identical match set the
    * union-df batch join does, and this query pins that equivalence
    * to DuckDB per round. Candidates bounded by prefix postings;
    * per-doc stateless ⇒ the same plan serves `foreachBatch`
    * ([[graft.dedup.Dedup.decontamStream]]).
    */
  val q173_decontam_probe: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val index = Dedup.setSimIndexBuild(docs.where(col("doc_id") % 50 === 0),
      "doc_id", TextFns.shingles(col("text"), 3),
      tauX1000 = 600, itemKey = HashFns.hash61)
    Dedup.setSimProbeIndex(docs, "doc_id", TextFns.shingles(col("text"), 3),
        index, itemKey = HashFns.hash61)
      .orderBy("id", "ref_id")
  }

  /** Adam7-interlaced sub-byte PNG decode
    * ([[graft.multimodal.PngCodec.testImageInterlaced]] →
    * [[graft.multimodal.Multimodal.pngPixelStats]]): per doc a 4-bit
    * grayscale Adam7 PNG is bit-packed PER INTERLACE PASS by the
    * fixture encoder, then decoded back through the seven-pass
    * de-interleave + sub-byte sample extraction (the r13 full-matrix
    * paths); the DuckDB twin computes the identical ×100 channel
    * means from the closed-form pixel formula, certifying the
    * de-interleave reproduced every pixel position. Map-only
    * O(pixels) per blob; no shuffle.
    */
  val q174_png_adam7: Q = (s, d) => {
    val synth = udf((id: Long) => graft.multimodal.PngCodec
      .testImageInterlaced(id, (id % 13 + 4).toInt, (id % 11 + 4).toInt))
    val media = Tables.documents(s, d)
      .select(col("doc_id"), synth(col("doc_id")).as("png"))
    graft.multimodal.Multimodal.pngPixelStats(media, "doc_id", "png")
      .select(col("id").as("doc_id"), col("width"), col("height"),
        col("mean_r_x100"), col("mean_g_x100"), col("mean_b_x100"),
        col("mean_a_x100"))
      .orderBy("doc_id")
  }

  /** BLEU-style modified n-gram precision
    * ([[graft.ops.TextStats.ngramOverlapScores]], Papineni et al.
    * 2002) over deterministic candidate pairs (every 5th doc vs its
    * successor): per pair the clipped unigram/bigram matches,
    * candidate-side totals and integer per-million precisions — the
    * generation-eval overlap staple next to q143's Jaccard
    * (order-sensitive via bigrams where Jaccard is bag-blind). Two
    * count-table scans + per-pair probes; the pair list is bounded by
    * construction.
    */
  val q175_ngram_overlap: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = docs.where(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      .join(docs.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
    TextStats.ngramOverlapScores(pairs, docs, "doc_id", "text")
      .orderBy("id_a")
  }

  /** Quality-argmax cluster representatives
    * ([[graft.dedup.Curation.clusterRepresentatives]]): per near-dup
    * family (the STAGED q65/q66 label table — the clustering job runs
    * once per corpus and scope) the member with the highest q122
    * milli-quality, smallest-id tiebreak, plus the family size —
    * keep-best dedup, the realistic upgrade over keep-min-id. One
    * label join + one cluster-keyed struct-max aggregation; no
    * per-cluster window.
    */
  val q176_cluster_reps: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val labels = Curation.clusterLabels(docs, "doc_id", "text", corpusKey = d)
    val scored = docs.select(col("doc_id"),
      floor(TextFns.qualityScore(col("text")) * 1000).cast("long").as("score"))
    Curation.clusterRepresentatives(labels, scored, "doc_id", "score")
      .orderBy("cluster_id")
  }

  /** Exact-count stratified sample with proportional allocation
    * ([[graft.ops.Mixture.stratifiedSample]]): a 60-row target split
    * across languages as k_s = max(1, ⌊60·n_s/N⌋), membership
    * deterministic by per-stratum top-k_s hash61(id) — the mixture
    * stage whose per-stratum sample size is EXACT (auditable),
    * unlike the Bernoulli rate gates (q83) or the global hash limit.
    * Strata counts broadcast; the ranking rides the bounded-heap
    * WindowGroupLimit, never a corpus sort.
    */
  val q177_stratified_sample: Q = (s, d) =>
    Mixture.stratifiedSample(Tables.documents(s, d), "lang", "doc_id", 60)
      .orderBy("lang", "sample_rank")

  /** b-bit minwise hashing ([[graft.dedup.Dedup.bbitSignatures]] +
    * [[graft.dedup.Dedup.bbitJaccardEstimates]], Li & König WWW
    * 2010): 30 minhashes × 2 bits packed into ONE long per doc (16×
    * signature compression — the 100 TB memory lever), pair
    * similarity from one XOR + popcount with the published collision
    * correction, side by side with the EXACT Jaccard so the estimate
    * is auditable per pair. The twin recomputes matches by direct
    * per-slot equality where Spark uses the packed-XOR kernel — two
    * formulations, one ground truth.
    */
  val q178_bbit_minhash: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = docs.where(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      .join(docs.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
    val est = Dedup.bbitJaccardEstimates(pairs,
      Dedup.bbitSignatures(docs, "doc_id", "text"))
    val sets = docs
      .select(col("doc_id").as("id"),
        explode(TextFns.shingles(col("text"), 3)).as("s0"))
      .select(col("id"), HashFns.hash61(col("s0")).as("t"))
      .groupBy("id")
      .agg(sort_array(collect_set(col("t"))).as("ts"))
      .withColumn("n", size(col("ts")).cast("bigint"))
    val exact = pairs
      .join(sets.select(col("id").as("id_a"), col("ts").as("tsa"),
        col("n").as("na")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("ts").as("tsb"),
        col("n").as("nb")), Seq("id_b"))
      .withColumn("ni", graft.functions.SortedIntersectCount(col("tsa"), col("tsb")))
      .select(col("id_a"), col("id_b"),
        expr("CAST((1000 * ni) div (na + nb - ni) AS BIGINT)")
          .as("jaccard_x1000"))
    est.join(exact, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("m_matches"),
        col("j_hat_x1000"), col("jaccard_x1000"))
      .orderBy("id_a")
  }

  /** Per-class precision/recall/F1
    * ([[graft.ops.Profile.classificationReport]]) of the q114 NB
    * language classifier against the truth labels on the holdout
    * slice — the evaluation report every labeling stage gets judged
    * by, with F1's harmonic mean landing on the EXACT integer
    * 2000·tp div (n_pred + n_true). Three label-keyed partial
    * aggregations over the scored table; the report is
    * classes-bounded.
    */
  val q179_classification_report: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val scored = graft.ops.NaiveBayes.trainScore(
      docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
      docs.where(pmod(col("doc_id"), lit(5)) === 0),
      "lang", "doc_id", "text", Seq("lang"))
    graft.ops.Profile.classificationReport(scored, "lang", "pred")
      .orderBy("label")
  }

  /** Cohen's κ ([[graft.ops.Profile.cohensKappa]], Cohen 1960)
    * between the two INDEPENDENT language labelers the engine ships —
    * the trained NB classifier (q114) and the stopword-heuristic
    * langid (q32) — over the holdout slice: the chance-corrected
    * agreement score a labeling pipeline uses to decide whether two
    * cheap classifiers can cross-validate each other. Exact integer
    * per-mille via the (A·N − S)/(N² − S) reduction through
    * DECIMAL(38).
    */
  val q180_cohens_kappa: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val hold = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    val nb = graft.ops.NaiveBayes.trainScore(
      docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
      hold, "lang", "doc_id", "text")
    val heur = hold.select(col("doc_id"),
      TextFns.langId(col("text")).as("lang_pred"))
    graft.ops.Profile.cohensKappa(nb.join(heur, Seq("doc_id")),
      "pred", "lang_pred")
  }

  /** Krippendorff's α ([[graft.ops.Profile.krippendorffAlpha]]) over
    * the SAME two labelers and holdout as q180 — κ corrects by each
    * rater's own marginals, α by the pooled distribution; reporting
    * both is the standard annotation-QA practice. Exact ppm through
    * the two-rater coincidence reduction.
    */
  val q295_krippendorff: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val hold = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    val nb = graft.ops.NaiveBayes.trainScore(
      docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
      hold, "lang", "doc_id", "text")
    val heur = hold.select(col("doc_id"),
      TextFns.langId(col("text")).as("lang_pred"))
    graft.ops.Profile.krippendorffAlpha(nb.join(heur, Seq("doc_id")),
      "pred", "lang_pred")
  }

  /** Discriminative vocabulary per language
    * ([[graft.ops.TextStats.discriminativeWords]], Dunning 1993):
    * top-10 words per lang by the G² log-likelihood keyness of the
    * 2×2 document-frequency contingency — the supervised complement
    * to q124's PMI, computed entirely in integer eighth-bit logs (χ²'s
    * N·(ad−bc)² would overflow at corpus scale; G² decomposes into
    * per-count logs that never leave int64). The plan computes the
    * logs with the native Mitchell expression; the twin evaluates the
    * same sum as SQL ([[graft.ops.TextStats.dunningG2Sql]]).
    */
  val q181_discriminative_words: Q = (s, d) =>
    TextStats.discriminativeWords(Tables.documents(s, d), "doc_id", "text",
        "lang", k = 10)
      .orderBy("lang", "rn")

  /** Distinct-n diversity report per language
    * ([[graft.ops.TextStats.distinctNgramReport]], Li et al. 2016's
    * distinct-1/-2): corpus-level repetitiveness — low distinct-n
    * means templated/looping text, the group-level complement to
    * q68's per-doc repetition stats. Two (lang, gram) reductions,
    * groups-bounded report.
    */
  val q182_distinct_ngrams: Q = (s, d) =>
    TextStats.distinctNgramReport(Tables.documents(s, d), "lang", "text")
      .orderBy("lang")

  /** Bayesian-smoothed per-user conversion rates
    * ([[graft.ops.Funnel.bayesianRates]]): click/view rates shrunk
    * toward the global prior with pseudo-count α=20 — the ranking
    * guard that stops 1-view users from outranking 1000-view users.
    * Exact integer per-mille; one user-keyed aggregation + broadcast
    * scalar prior.
    */
  val q183_bayesian_rates: Q = (s, d) =>
    graft.ops.Funnel.bayesianRates(Tables.events(s, d), "user_id",
        "event_type", successType = "click", trialType = "view")
      .orderBy("user_id")

  /** Uncertainty sampling for active learning: the 10 LOWEST-margin
    * holdout docs per predicted class from the q114 NB scorer
    * (margin_e8 = distance to the runner-up class in eighth-bits) —
    * the standard "label these next" selection. Rides the bounded
    * heap (rank by negated margin); the scorer's own margin column
    * does the work.
    */
  val q184_uncertainty_sample: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val scored = graft.ops.NaiveBayes.trainScore(
      docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
      docs.where(pmod(col("doc_id"), lit(5)) === 0),
      "lang", "doc_id", "text")
    graft.plans.TopK.topKPerKey(
        scored.withColumn("neg_margin", -col("margin_e8")),
        Seq("pred"), col("neg_margin"), Seq(col("doc_id"), col("margin_e8"),
          col("s_e8")), 10)
      .select(col("pred"), col("rn"), col("doc_id"), col("margin_e8"),
        col("s_e8"))
      .orderBy("pred", "rn")
  }

  /** Pairwise Jensen–Shannon divergence between per-language word
    * distributions ([[graft.ops.Profile.jsDivergence]], Lin 1991):
    * the bounded symmetric corpus-comparison matrix (micro-bits) over
    * Laplace-smoothed union-vocabulary ppm — q155's PSI watches a
    * numeric histogram; this compares the text itself. Integer
    * eighth-bit logs throughout, the term SQL shared verbatim with
    * the twin.
    */
  val q185_js_divergence: Q = (s, d) =>
    graft.ops.Profile.jsDivergence(Tables.documents(s, d), "lang", "text")
      .orderBy("lang_a", "lang_b")

  /** Rank-biased overlap ([[graft.ops.TextStats.rankBiasedOverlap]],
    * Webber et al. 2010, p = 0.9) between the q109 BM25 top-20 and
    * the naive raw-term-frequency top-20 over the same query terms —
    * the top-weighted agreement curve a retrieval team reads before
    * swapping rankers ("where in the list do BM25's idf and length
    * normalization actually change the order"). Exact rational p
    * powers through DECIMAL(38); everything after the two top-k
    * extractions is O(k²).
    */
  val q186_rank_rbo: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val tok = docs.select(col("doc_id"),
      explode(TextFns.tokens(col("text"))).as("t"))
    val terms = tok.select(col("t"))
      .where(length(col("t")) >= 5)
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("t")).limit(4)
    val bmRank = TextStats.bm25(docs, "doc_id", "text", terms, "t",
        Seq.empty, 20)
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("bm25_x"), col("doc_id"))))
      .select(col("doc_id").as("id"), col("rank"))
    val tfRank = tok.join(broadcast(terms.select("t")), Seq("t"))
      .groupBy("doc_id").agg(count(lit(1)).as("tfsum"))
      .orderBy(desc("tfsum"), col("doc_id")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("tfsum"), col("doc_id"))))
      .select(col("doc_id").as("id"), col("rank"))
    TextStats.rankBiasedOverlap(bmRank, tfRank, 20)
      .orderBy("d")
  }

  /** Heavy changers between corpus snapshots
    * ([[graft.ops.Profile.heavyChangers]], exact form of CMS heavy
    * change detection): the 25 words whose token-mass RATE moved most
    * between the even-id and odd-id halves — vocabulary drift
    * surfaced as a ranked word list, rates not raw counts so growth
    * alone doesn't flag. Bounded-heap ranking over the vocab-bounded
    * delta table.
    */
  val q187_heavy_changers: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.ops.Profile.heavyChangers(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "text", k = 25)
      .orderBy("rn")
  }

  /** Arrival burstiness per event type
    * ([[graft.ops.Funnel.burstiness]]): the index of dispersion of
    * per-hour counts over the full hour span (empty hours included) —
    * ≈1000‰ Poisson, higher bursty, lower metronomic. The
    * pipeline-health number that separates steady traffic from
    * batchy/spiky producers.
    */
  val q188_burstiness: Q = (s, d) =>
    graft.ops.Funnel.burstiness(Tables.events(s, d), "event_type", "ts")
      .orderBy("event_type")

  /** Token-mass Gini concentration ([[graft.ops.Profile.giniIndex]])
    * over per-doc token counts (32-token buckets): how unequal the
    * corpus's length distribution is — 0 uniform, →1000 all mass in
    * the longest docs. Exact grouped-data Gini over the bounded
    * bucket table.
    */
  val q189_length_gini: Q = (s, d) =>
    graft.ops.Profile.giniIndex(
      Tables.documents(s, d)
        .select(TextFns.tokenCount(col("text")).as("n_tok")),
      "n_tok", binWidth = 32)

  /** Shannon entropy of each language's word distribution
    * ([[graft.ops.TextStats.tokenEntropy]]): exact integer micro-bits
    * from counts and eighth-bit logs — the one-number register
    * fingerprint (low entropy = templated source) whose pairwise
    * comparison is q185's JSD.
    */
  val q190_token_entropy: Q = (s, d) =>
    TextStats.tokenEntropy(Tables.documents(s, d), "lang", "text")
      .orderBy("lang")

  /** Approximate DBSCAN ([[graft.sim.Similarity.dbscan]], Ester et
    * al. 1996) over the embeddings — density clustering with LSH
    * region queries: cosine-0.55 neighborhoods, minPts 3,
    * core/border/noise roles and min-member-id cluster labels via the
    * verified CC machinery. The twin replicates the identical plane
    * literals, probes, degree rule, recursive closure and
    * smallest-core border assignment.
    */
  val q191_dbscan: Q = (s, d) =>
    Similarity.dbscan(Tables.embeddings(s, d), "vec_id", "embedding",
        eps = 0.55, minPts = 3)
      .orderBy("vec_id")

  /** CBOR decode ([[graft.formats.CborCodec]], RFC 8949): per doc a
    * telemetry-record map is CBOR-ENCODED (shortest-form ints, the
    * spec's preferred serialization) then DECODED back — typed field
    * extraction plus the full deterministic JSON rendering, which the
    * DuckDB twin reconstructs character-for-character from the
    * closed-form record definition: a hash match certifies the whole
    * decode tree (map order, nesting, string escapes, booleans).
    * Map-only O(bytes) per record; the wire layer is certified
    * independently against RFC 8949 Appendix A vectors in
    * `CborCodecSpec`.
    */
  val q192_cbor_decode: Q = (s, d) => {
    import graft.formats.CborCodec
    import graft.formats.CborCodec._
    val synth = udf((id: Long) => CborCodec.testRecord(id))
    val dec = udf((b: Array[Byte]) => {
      val v = CborCodec.decode(b)
      if (v == null) null
      else {
        val idv = CborCodec.mapGet(v, "id") match {
          case CInt(x) => x; case _ => -1L
        }
        val n = CborCodec.mapGet(v, "n") match {
          case CInt(x) => x; case _ => -1L
        }
        val tags = CborCodec.mapGet(v, "tags") match {
          case CArr(xs) => xs.length.toLong; case _ => -1L
        }
        val name = CborCodec.mapGet(v, "name") match {
          case CText(x) => x; case _ => null
        }
        val ok = CborCodec.mapGet(v, "ok") match {
          case CBool(x) => x; case _ => false
        }
        (idv, n, tags, name, ok, CborCodec.toJson(v))
      }
    })
    Tables.documents(s, d)
      .select(col("doc_id"), dec(synth(col("doc_id"))).as("r"))
      .select(col("doc_id"), col("r._1").as("id_field"),
        col("r._2").as("n_field"), col("r._3").as("n_tags"),
        col("r._4").as("name"), col("r._5").as("ok"),
        col("r._6").as("json"))
      .orderBy("doc_id")
  }

  /** Persisted BM25 index build
    * ([[graft.ops.TextStats.bm25IndexBuild]]): the document-frequency
    * table + corpus stats of the full-vocabulary inverted index —
    * pinning df and (n_docs, avdl) pins the idf and length
    * normalization every future probe computes (the postings are
    * pinned transitively through q194's probe ≡ q109 equivalence).
    * Vocabulary-bounded output.
    */
  val q193_bm25_index: Q = (s, d) => {
    val index = TextStats.bm25IndexBuild(Tables.documents(s, d),
      "doc_id", "text")
    index.dfreq.crossJoin(broadcast(index.stats))
      .select(col("t"), col("df"), col("n_docs"), col("avdl"))
      .orderBy("t")
  }

  /** BM25 through the PERSISTED-index probe path
    * ([[graft.ops.TextStats.bm25Probe]] against q193's index) with
    * q109's term selection: build once, probe any term set forever —
    * the retrieval deployment shape. The scoring expressions are
    * SHARED emitters with the per-query [[graft.ops.TextStats.bm25]],
    * and the oracle twin is q109's chain VERBATIM, pinning
    * probe ≡ per-query ≡ DuckDB per round.
    */
  val q194_bm25_probe: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val terms = docs.select(explode(TextFns.tokens(col("text"))).as("t"))
      .where(length(col("t")) >= 5)
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("t")).limit(4)
    val index = TextStats.bm25IndexBuild(docs, "doc_id", "text")
    TextStats.bm25Probe(index, terms, "t", 100)
      .withColumnRenamed("id", "doc_id")
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("n_terms_hit"), col("bm25_x"))
      .orderBy(desc("bm25_x"), col("doc_id"))
  }

  /** Standing-query percolation ([[graft.ops.TextStats.percolate]],
    * the Elasticsearch-percolator reverse search): four registered
    * term-set queries with min-match thresholds, every doc streamed
    * through them — the alerting shape ("notify when a doc mentioning
    * ≥2 of {table, row, scan} arrives"). Broadcast query postings,
    * one distinct-token explode, (doc, query)-keyed count; per-doc
    * stateless ⇒ the identical operator serves foreachBatch.
    */
  val q195_percolate: Q = (s, d) => {
    val standing = s.sql(
      """SELECT * FROM VALUES
        |  (1L, array('table', 'row', 'scan'), 2L),
        |  (2L, array('fast', 'slow'), 1L),
        |  (3L, array('query', 'window', 'sort'), 2L),
        |  (4L, array('zebra', 'xylophone'), 1L)
        |  AS q(query_id, terms, min_match)""".stripMargin)
    TextStats.percolate(Tables.documents(s, d), "doc_id", "text",
        standing, "query_id", "terms", "min_match")
      .orderBy("doc_id", "query_id")
  }

  /** Seasonal-naive arrival anomalies
    * ([[graft.ops.Funnel.seasonalAnomalies]]): every (type, date,
    * hour-of-day) cell of the 30-day events grid against its slot's
    * median across dates, 3·MAD robust band, empty cells zero-filled
    * — the pipeline-ops monitor that catches both spikes AND silent
    * hours. Exact-interpolation percentile ≡ quantile_cont (the
    * q55/q140 parity).
    */
  val q196_seasonal_anomalies: Q = (s, d) =>
    graft.ops.Funnel.seasonalAnomalies(Tables.events(s, d), "event_type",
        "ts")
      .orderBy("event_type", "date", "hod")

  /** CUSUM rate-shift detection ([[graft.ops.Funnel.cusumShifts]],
    * Page 1954) over each type's hourly arrival series — the
    * classical sequential changepoint chart, with the max(0, ·)
    * recurrence rewritten as prefix-minus-running-extremum so the
    * whole detector is two cumulative windows over the span-bounded
    * grid. Exact per-mille integers; q196's robust-band complement
    * (MAD flags odd CELLS, CUSUM flags sustained SHIFTS).
    */
  val q197_cusum_shifts: Q = (s, d) =>
    graft.ops.Funnel.cusumShifts(Tables.events(s, d), "event_type", "ts")
      .orderBy("event_type")

  /** Chao1 vocabulary-richness estimate per language
    * ([[graft.ops.TextStats.chao1Richness]], Chao 1984): observed
    * vocabulary, hapax/dis-legomena counts, the Ĉ = V + f1²/2f2
    * richness estimate and the Good–Turing unseen-mass per-mille —
    * "how much vocabulary haven't we crawled yet", the coverage
    * planning number next to q165's Heaps curve.
    */
  val q198_chao1_richness: Q = (s, d) =>
    TextStats.chao1Richness(Tables.documents(s, d), "lang", "text")
      .orderBy("lang")

  /** Mann–Kendall monotonic-trend test per event type
    * ([[graft.ops.Funnel.mannKendallTrend]], Mann 1945): Kendall's S
    * over the zero-filled daily count series — the non-parametric
    * drift test outliers can't fake. O(days²) pair join over the
    * span-bounded grid only.
    */
  val q199_mann_kendall: Q = (s, d) =>
    graft.ops.Funnel.mannKendallTrend(Tables.events(s, d), "event_type",
        "ts")
      .orderBy("event_type")

  /** Lead–lag cross-correlation between event types
    * ([[graft.ops.Funnel.leadLag]]): per type pair the most-positive
    * integer cross-covariance lag in ±6 hours of the per-mille
    * centered hourly series — "does purchase traffic follow view
    * traffic, and by how much". Lag fan-out rides an equi-join on
    * the shifted hour; everything is span×lags-bounded after the
    * hourly reduction.
    */
  val q200_lead_lag: Q = (s, d) =>
    graft.ops.Funnel.leadLag(Tables.events(s, d), "event_type", "ts")
      .orderBy("type_a", "type_b")

  /** Wasserstein-1 drift of per-source document-length distributions
    * ([[graft.ops.Profile.wasserstein1]]): Σ|ΔCDF|·binWidth against
    * the pooled corpus — the drift number PSI (q155) and JSD (q185)
    * can't give, because it scores how FAR the mass moved, not just
    * that it moved. Exact integer CDFs (cumulative counts first, one
    * ppm division per bin); everything after the binning scan is
    * (sources × bins)-bounded.
    */
  val q201_wasserstein_drift: Q = (s, d) =>
    graft.ops.Profile.wasserstein1(Tables.documents(s, d), "source",
        "n_chars", binWidth = 50)
      .orderBy("source")

  /** First-order Markov transition matrix over per-user event
    * sequences ([[graft.ops.Funnel.markovTransitions]]): exact-ppm
    * P(next | current) from consecutive-event adjacency counts
    * (event_id tiebreak on ts) — next-action prediction and
    * anomalous-session scoring. One per-user window; the matrix is
    * alphabet²-bounded.
    */
  val q202_markov_transitions: Q = (s, d) =>
    graft.ops.Funnel.markovTransitions(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id")
      .orderBy("from_type", "to_type")

  /** Stationary distribution of the event-type Markov chain
    * ([[graft.ops.Funnel.markovStationary]]): 5 exact-integer power
    * iterations from the uniform ppm start — the long-run attention
    * share per event type. All iterations on alphabet-bounded
    * tables; one corpus scan total.
    */
  val q203_markov_stationary: Q = (s, d) =>
    graft.ops.Funnel.markovStationary(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id")
      .orderBy("event_type")

  /** Ordered sequential-pattern mining
    * ([[graft.ops.Funnel.sequencePatterns]]): every consecutive
    * event-type trigram with occurrence count, distinct-user reach,
    * and per-mille support — surfaces WHICH sequences to ask the
    * funnel (q144/q145) about; the ordered complement to q162's
    * unordered baskets. One per-user window; T³-bounded output.
    */
  val q204_sequence_patterns: Q = (s, d) =>
    graft.ops.Funnel.sequencePatterns(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id")
      .orderBy("step_1", "step_2", "step_3")

  /** Reciprocal-rank-fusion hybrid retrieval
    * ([[graft.sim.Similarity.rrfFuse]], Cormack 2009): three probe
    * docs retrieve related docs through TWO retrievers — lexical
    * (distinct ≥5-char token overlap) and dense (embedding cosine,
    * vec_id ≡ doc_id) — each cut to its top-50, fused by
    * Σ 10⁶ div (60 + rank) exact integers. The hybrid-search shape
    * every RAG stack runs; no score calibration between BM25-like
    * and cosine scales. Queries broadcast everywhere; fusion is
    * Q×k-bounded; every top-k is the bounded-heap aggregate.
    */
  val q205_rrf_hybrid: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val dTok = docs.select(col("doc_id").as("id"),
        explode(TextFns.tokens(col("text"))).as("t"))
      .where(length(col("t")) >= 5).distinct()
    val qTok = dTok.where(col("id") < 3)
      .select(col("id").as("query_id"), col("t"))
    val lex = dTok.join(broadcast(qTok), "t")
      .where(col("id") =!= col("query_id"))
      .groupBy("query_id", "id").agg(count(lit(1)).as("ov"))
    val lexRank = graft.plans.TopK.topKPerKey(lex, Seq("query_id"),
        col("ov"), Seq(col("id")), 50)
      .select(col("query_id"), col("id"), col("rn").as("rank"))
    val e = Tables.embeddings(s, d).select(col("vec_id"),
      graft.functions.VectorFns.toDouble(col("embedding")).as("v"))
    val qv = e.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val dense = e.crossJoin(broadcast(qv))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("id"),
        graft.functions.VectorFns.cosine(col("v"), col("qv")).as("sim"))
    val denseRank = graft.plans.TopK.topKPerKey(dense, Seq("query_id"),
        col("sim"), Seq(col("id")), 50)
      .select(col("query_id"), col("id"), col("rn").as("rank"))
    graft.sim.Similarity.rrfFuse(Seq(lexRank, denseRank))
      .orderBy("query_id", "rank")
  }

  /** Benford's-law first-digit screen over order totals
    * ([[graft.ops.Profile.benfordReport]]): observed vs expected
    * first-digit ppm with absolute deviations — the fabricated-data /
    * broken-upstream detector auditors run first. Digits come from
    * the integer magnitude CASE (shared verbatim with the twin),
    * never float log10; floor() before the BIGINT cast because the
    * engines round that cast differently.
    */
  val q206_benford_screen: Q = (s, d) =>
    graft.ops.Profile.benfordReport(Tables.orders(s, d),
        "floor(o_totalprice)")
      .orderBy("digit")

  /** Kaplan–Meier survival over user lifetimes
    * ([[graft.ops.Funnel.survivalCurve]]): per lifetime-day the
    * at-risk count, deaths, censored exits, and running eighth-bit
    * log-survival — churn with censoring done right (users still
    * active near the corpus end are censored, not dead). The
    * product-limit estimator as a window SUM of exact Mitchell logs;
    * one per-user reduction, then day-bounded tables only.
    */
  val q207_survival_curve: Q = (s, d) =>
    graft.ops.Funnel.survivalCurve(Tables.events(s, d), "user_id", "ts")
      .orderBy("t_days")

  /** MMR diversified re-ranking ([[graft.sim.Similarity.mmrSelect]],
    * Carbonell 1998): the context-selection step after retrieval —
    * greedily pick 3 of each probe's top-10 cosine candidates,
    * maximizing 7·rel − 3·(max sim to already-picked) so near-dup
    * passages don't crowd the context window. The greedy chain runs
    * only over query-bounded candidate tables; corpus scanned once.
    */
  val q208_mmr_rerank: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    graft.sim.Similarity.mmrSelect(e, "vec_id", "embedding",
        e.where(col("vec_id") < 3), "vec_id", "embedding")
      .orderBy("query_id", "pick")
  }

  /** TextTiling topic segmentation
    * ([[graft.ops.TextStats.textTiling]], Hearst 1997): per document
    * the adjacent-block lexical-cohesion curve (exact ×1000 Jaccard
    * of 20-token blocks), Hearst valley depths, and the dip-below-
    * mean boundary flags — finds the topic seams fixed-offset RAG
    * chunking cuts through. One posexplode scan; all windows
    * partition by document.
    */
  val q209_text_tiling: Q = (s, d) =>
    TextStats.textTiling(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id", "gap")

  /** Zone-map pruning report over a Z-ordered events layout
    * ([[graft.ops.Layout.zoneMapPruning]]): 32 fixed z-range buckets
    * on (hour-of-day, user-id mod 32) with per-bucket min/max zone
    * maps, a business-hours × user-band rectangle probe, the
    * planner's overlap decision per bucket, and the exact matching
    * rows — shows both the skip rate z-ordering buys and the
    * false-positive scans it still pays. One scan, 32-row output.
    */
  val q210_zonemap_pruning: Q = (s, d) =>
    graft.ops.Layout.zoneMapPruning(Tables.events(s, d),
        "hour(ts)", "user_id % 32", bits = 5, numBuckets = 32,
        xLo = 9, xHi = 17, yLo = 8, yHi = 15)
      .orderBy("bucket")

  /** Hour-granular session concurrency curve
    * ([[graft.ops.Funnel.concurrencyCurve]]): live / opened / closed
    * sessions per hour from the q141 inactivity-gap sessions — the
    * capacity-planning readout. Sessions explode only into their own
    * overlapped hours; output is span-bounded.
    */
  val q211_concurrency_curve: Q = (s, d) =>
    graft.ops.Funnel.concurrencyCurve(Tables.events(s, d), "user_id",
        "ts", "event_id")
      .orderBy("hour")

  /** Classifier calibration report
    * ([[graft.ops.Profile.calibrationReport]]): the NB language
    * classifier's holdout predictions binned by their margin_e8
    * confidence, exact per-mille accuracy per bin — the reliability
    * diagram that says whether q114's margins can back a threshold
    * gate. One (maxBin+1)-bounded aggregation over the q184 scored
    * surface.
    */
  val q212_calibration_report: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val scored = graft.ops.NaiveBayes.trainScore(
      docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
      docs.where(pmod(col("doc_id"), lit(5)) === 0),
      "lang", "doc_id", "text", Seq("lang"))
    graft.ops.Profile.calibrationReport(scored, "lang", "pred",
        "margin_e8", binWidth = 2, maxBin = 10)
      .orderBy("bin")
  }

  /** Isotonic recalibration of the q212 NB confidence bins
    * ([[graft.ops.Profile.isotonicCalibration]]): the exact
    * PAVA-equal minimax fit turns the binned margin→accuracy curve
    * into the monotone calibrated mapping, floor-ppm exact.
    */
  val q286_isotonic_calibration: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val scored = graft.ops.NaiveBayes.trainScore(
      docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
      docs.where(pmod(col("doc_id"), lit(5)) === 0),
      "lang", "doc_id", "text", Seq("lang"))
    graft.ops.Profile.isotonicCalibration(
        scored.select(expr("least(margin_e8 div 2, 10)").as("bin"),
          (col("lang") === col("pred")).as("ok")),
        "bin", "ok")
      .orderBy("bin")
  }

  /** Four-fifths-rule fairness audit of a length gate across
    * languages ([[graft.ops.Profile.fairnessReport]]): does the
    * n_chars ≥ 200 quality filter select non-English documents at a
    * materially lower rate than English? Exact selection rates,
    * parity difference, count-exact disparate-impact ratio.
    */
  val q287_fairness_report: Q = (s, d) =>
    graft.ops.Profile.fairnessReport(Tables.documents(s, d),
        "lang", expr("n_chars >= 200"), refGroup = "en")
      .orderBy("lang")

  /** Dalenius–Hodges cum-√f stratum boundaries on customer balances
    * ([[graft.ops.Profile.cumSqrtFStrata]]): the survey-design
    * complement to q269's Neyman allocation — $100 balance bins,
    * √frequency accumulated and cut into 4 equal shares; per-bin
    * floor(1000·√f) is the one shared float step.
    */
  val q288_cum_sqrt_strata: Q = (s, d) =>
    graft.ops.Profile.cumSqrtFStrata(
        Tables.customer(s, d).select(
          expr("CAST(round(c_acctbal * 100) AS BIGINT) + 10000000")
            .as("bal_c")),
        "bal_c", binWidth = 10000L, strata = 4)
      .orderBy("stratum")

  /** Split-conformal price intervals
    * ([[graft.ops.Eval.conformalIntervals]]): distribution-free
    * coverage for the per-quantity mean-price predictor — exact
    * order-statistic q̂ from the residual-value histogram on the
    * calibration split, empirical coverage on the held-out test
    * split, at α = 10% and 5%.
    */
  val q289_conformal: Q = (s, d) =>
    graft.ops.Eval.conformalIntervals(
        Tables.lineitem(s, d).select(
          expr("CAST(l_quantity AS BIGINT)").as("qty"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            .as("price_c"),
          expr("(l_orderkey * 8 + l_linenumber) % 5").as("sp")),
        "qty", "price_c", "sp")
      .orderBy("alpha_ppm")

  /** McNemar paired comparison of the NB classifier (q114) against
    * the marker-heuristic langId (q32) on the shared eval split
    * ([[graft.ops.Eval.mcnemar]]): only the discordant pairs are
    * evidence; the χ² is one exact integral divide — no float at
    * all.
    */
  val q290_mcnemar: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val ev = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    val nb = graft.ops.NaiveBayes.trainScore(
      docs.where(pmod(col("doc_id"), lit(5)) =!= 0), ev,
      "lang", "doc_id", "text", Seq("lang"))
    graft.ops.Eval.mcnemar(
        nb.join(ev.select(col("doc_id"),
          TextFns.langId(col("text")).as("pred_b")), Seq("doc_id")),
        "lang", "pred", "pred_b")
      .orderBy("n")
  }

  /** Mean-average-precision of the q147 IVF index against its exact
    * brute-force truth ([[graft.sim.Similarity.mapEval]]): AP
    * integrates precision over every hit position, separating an
    * index that front-loads the true neighbors from one that
    * scatters them — MRR (first hit) and nDCG (fixed gain curve)
    * can't tell those apart. Same k-bounded join as q147; fully
    * integer (precision@r = 10⁶·cum div r).
    */
  val q291_map_eval: Q = (s, d) => {
    val e = Scale.fanOut(Tables.embeddings(s, d))
    val qs = e.where(col("vec_id") < 3)
    val ann = Similarity.ivfTopKAuto(e, "vec_id", "embedding",
      qs, "vec_id", "embedding",
      k = 5, numCells = 4, nProbe = 2, iters = 1, sampleN = 64)
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      qs, "vec_id", "embedding", k = 5)
    Similarity.mapEval(ann, exact).orderBy("query_id")
  }

  /** Phonetic (simplified-Soundex) blocking audit over the part-name
    * vocabulary ([[graft.dedup.Linkage.phoneticBlocks]]): sound-alike
    * candidate word pairs with block sizes — the third blocking
    * primitive after q125's q-gram keys and q251's equality blocks.
    * The quadratic stage runs inside vocabulary blocks only (Heaps'
    * law keeps the word table broadcast-size at any corpus scale).
    */
  val q292_phonetic_blocking: Q = (s, d) =>
    graft.dedup.Linkage.phoneticBlocks(Tables.part(s, d), "p_name")
      .orderBy("pkey", "word_a", "word_b")

  /** Dirichlet-smoothed query-likelihood retrieval
    * ([[graft.ops.TextStats.qlRetrieve]], Zhai & Lafferty 2001) over
    * the q109 probe terms: the LM ranker next to BM25 — matched-term
    * gains in integer eighth-bit logs plus the length-only Dirichlet
    * prior, every doc ranked (the prior alone orders unmatched docs),
    * bounded-heap top-100.
    */
  val q293_ql_retrieval: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val terms = docs.select(explode(TextFns.tokens(col("text"))).as("t"))
      .where(length(col("t")) >= 5)
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("t")).limit(4)
    TextStats.qlRetrieve(docs, "doc_id", "text", terms, "t", mu = 2048, k = 100)
  }

  /** HITS hubs & authorities ([[graft.ops.Funnel.hitsBipartite]],
    * Kleinberg 1999) on the customer→part purchase graph: top
    * "curator" customers and "anchor" parts by mutual reinforcement
    * — 4 exact fixed-point iterations with L1 normalization, the
    * rec-sys importance lens beside q213's item-item similarity.
    */
  val q300_hits: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
    graft.ops.Funnel.hitsBipartite(edges, "cust", "part")
      .orderBy(col("role"), desc("score_p12"), col("node"))
  }

  /** Jaro–Winkler verification of the q292 phonetic candidate pairs
    * ([[graft.functions.JaroWinkler]] — native codegen'd exact
    * integer rationals): blocking proposes sound-alikes, the
    * comparator scores them — the classic two-stage linkage verify.
    * NO SQL twin by design: the matching-window walk is a sequential
    * per-pair algorithm with no set-based SQL form, and library
    * floats differ in the last ulp anyway — the expression is pinned
    * by the published Winkler vectors as exact rationals
    * (`GraftFunctionsSpec`) and the q292 pair source is itself
    * oracle-gated, so this entry takes the rows-only check.
    */
  val q303_jw_verify: Q = (s, d) =>
    graft.dedup.Linkage.phoneticBlocks(Tables.part(s, d), "p_name")
      .withColumn("jw_x1e6",
        graft.functions.JaroWinkler(col("word_a"), col("word_b")))
      .orderBy("pkey", "word_a", "word_b")

  /** Item–item collaborative similarity over customer part baskets
    * ([[graft.ops.Funnel.itemSimilarity]]): "customers who bought X
    * also bought Y" scored by exact-ppm SQUARED Ochiai (binary-vector
    * cosine with the square root folded away) — the rec-sys
    * complement to q162's lift. Baskets = distinct (custkey,
    * partkey) from lineitem ⋈ orders; maxBasket guards the
    * quadratic pair stage.
    */
  val q213_item_similarity: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val ui = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
    graft.ops.Funnel.itemSimilarity(ui, "cust", "part", minCo = 3L)
      .orderBy("item_a", "item_b")
  }

  /** RFM customer segmentation ([[graft.ops.Funnel.rfmSegments]]):
    * recency/frequency/monetary quintile scores per customer from
    * EXACT bounded-table quantile cuts (no corpus sort, no ntile
    * single-partition window), aggregated to the ≤125 populated
    * (r, f, m) cells with customer counts and cents totals.
    */
  val q214_rfm_segments: Q = (s, d) =>
    graft.ops.Funnel.rfmSegments(Tables.orders(s, d), "o_custkey",
        "o_orderdate", "o_totalprice")
      .orderBy("recency_q", "frequency_q", "monetary_q")

  /** Weekly cohort LTV curve ([[graft.ops.Funnel.cohortLtv]]):
    * retention with money — per (cohort week, offset) the week's
    * cents, running cumulative, and per-member LTV, exact through
    * DECIMAL. The payback-period readout.
    */
  val q215_cohort_ltv: Q = (s, d) =>
    graft.ops.Funnel.cohortLtv(Tables.events(s, d), "user_id", "ts",
        "value")
      .orderBy("cohort_week", "week_offset")

  /** Transition dwell-time profile
    * ([[graft.ops.Funnel.transitionDwell]]): per (a → b) consecutive
    * event pair the gap-seconds min / exact-interpolation median /
    * p90 / max — the timing half of q202's transition matrix
    * ("users who purchase after viewing do it within N minutes").
    */
  val q216_transition_dwell: Q = (s, d) =>
    graft.ops.Funnel.transitionDwell(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id")
      .orderBy("from_type", "to_type")

  /** SCD type-2 interval build ([[graft.ops.Profile.scd2Intervals]]):
    * each user's event-type change stream collapsed into half-open
    * validity intervals with `is_current` on the last run — the
    * dimension-history builder behind every point-in-time join. All
    * windows partition by user.
    */
  val q217_scd2_intervals: Q = (s, d) =>
    graft.ops.Profile.scd2Intervals(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id")
      .orderBy("user_id", "valid_from", "event_type")

  /** Fleiss' κ ([[graft.ops.Profile.fleissKappa]], Fleiss 1971):
    * three-rater agreement — truth label, NB prediction, heuristic
    * langid — over the q114 holdout, the multi-labeler QA gate
    * generalizing q180's two-rater Cohen. Exact rational per-mille
    * through DECIMAL(38); one unpivot scan.
    */
  val q218_fleiss_kappa: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val hold = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    val nb = graft.ops.NaiveBayes.trainScore(
      docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
      hold, "lang", "doc_id", "text", Seq("lang"))
    val heur = hold.select(col("doc_id"),
      TextFns.langId(col("text")).as("lang_pred"))
    graft.ops.Profile.fleissKappa(nb.join(heur, Seq("doc_id")),
      "doc_id", Seq("lang", "pred", "lang_pred"))
  }

  /** Hill tail-index of the word-frequency distribution
    * ([[graft.ops.TextStats.hillTailIndex]], Hill 1975): the
    * power-law exponent behind the q170 Zipf plot as one audited
    * number — integer-exact through Mitchell eighth-bit logs, ln 2
    * as the fixed rational 693147/10⁶. Everything after the count
    * reduction is (k+1)-row-bounded.
    */
  val q219_hill_tail: Q = (s, d) =>
    TextStats.hillTailIndex(Tables.documents(s, d), "text")

  /** EWMA control chart over daily arrivals per event type
    * ([[graft.ops.Funnel.ewmaBands]], Roberts 1959): integer α=1/8
    * level + smoothed-deviation band, anomaly when a day deviates
    * > 3·band from YESTERDAY's level after a 7-day warmup — the
    * trend-following complement to q196's seasonal median/MAD chart.
    * One (type, day) reduction; the sequential recurrence folds each
    * type's span-bounded series in one `aggregate` fold (interpreted HOF — fine off the hot path: one tiny array per type);
    * the twin steps the SAME recurrence via `WITH RECURSIVE`.
    */
  val q220_ewma_bands: Q = (s, d) =>
    graft.ops.Funnel.ewmaBands(Tables.events(s, d), "event_type", "ts")
      .orderBy("event_type", "day")

  /** Margin-based pair mining between the two embedding halves
    * ([[graft.sim.Similarity.marginMine]], Artetxe & Schwenk 2019 —
    * the LASER/CCMatrix bitext-mining criterion): each probe's best
    * cross-half match scored by 2·cos/(own k-NN mean + match's k-NN
    * mean), hub-proof where raw cosine is not. Cosines round to
    * integer micros at the pair level (q28 parity class); every
    * aggregate after that is 64-bit integer math. Probe set bounded
    * and broadcast; corpus streams (the brute-exact baseline — at
    * scale the same margin rides the LSH candidates).
    */
  val q221_bitext_margin: Q = (s, d) =>
    Similarity.marginMine(Tables.embeddings(s, d), "vec_id", "embedding")
      .orderBy("query_id")

  /** k-core peel profile of the word co-occurrence graph
    * ([[graft.ops.TextStats.kcorePeel]], Seidman 1983): 6 peel
    * rounds at k=4 over the q161 bigram edge set, reporting
    * surviving nodes/edges per round — the dense-core-vs-fringe
    * decomposition; a flat tail shows the fixpoint. Driver-round
    * iterative pattern (q139's class) on the vocab²-bounded graph;
    * the twin unrolls the identical stages as CTEs.
    */
  val q222_kcore_profile: Q = (s, d) =>
    TextStats.kcorePeel(Tables.documents(s, d), "doc_id", "text")
      .orderBy("round")

  /** Theil–Sen robust trend slope per event type
    * ([[graft.ops.Funnel.theilSenSlope]], Theil 1950 / Sen 1968):
    * the lower-median pairwise micro-slope over the daily count
    * grid — the outlier-proof estimator paired with q199's
    * Mann–Kendall test. Integer-exact; O(days²) bounded pair join.
    */
  val q223_theilsen_slope: Q = (s, d) =>
    graft.ops.Funnel.theilSenSlope(Tables.events(s, d), "event_type", "ts")
      .orderBy("event_type")

  /** Point-in-time feature join ([[graft.ops.Profile.pitJoin]]):
    * odd-id events build the per-user SCD2 state dimension (the
    * q217 operator); even-id events are the facts, each enriched
    * with the state valid AT ITS OWN timestamp — the feature-store
    * leakage-safe join. Key-partitioned sort-merge join, never a
    * cross join; twin wraps the q217 twin verbatim.
    */
  val q224_pit_join: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val dims = graft.ops.Profile.scd2Intervals(
      ev.where(pmod(col("event_id"), lit(2L)) === 1L),
      "user_id", "event_type", "ts", "event_id")
    val facts = ev.where(pmod(col("event_id"), lit(2L)) === 0L)
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.ops.Profile.pitJoin(facts, "user_id", "ts", dims, "user_id")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("dim_event_type").as("state_at_ts"), col("valid_from"))
      .orderBy("event_id")
  }

  /** Brand affinity rules over REAL order baskets
    * ([[graft.ops.Funnel.assocRules]] generalized to a second
    * domain): each order's distinct part brands form the basket
    * (constant date collapses the (key, day) basket to the order
    * key), support/confidence/HUGEINT lift per ordered brand pair —
    * "customers who buy Brand#12 also buy Brand#34". The q162
    * operator reused verbatim; only the basket construction differs.
    */
  val q240_brand_affinity: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand"),
        lit("2024-01-01").cast("timestamp").as("__ts"))
    graft.ops.Funnel.assocRules(li, "l_orderkey", "p_brand", "__ts")
      .orderBy("x", "y")
  }

  /** Most atypical docs per source
    * ([[graft.sim.Similarity.sourceOutliers]]): lowest-5 cosines to
    * the doc's OWN source centroid (int8-quantized integer
    * dimension sums, q127's discipline) — the embedding outlier
    * screen before trusting a source label.
    */
  /** Exact ROC AUC per line status ([[graft.ops.Eval.rocAuc]],
    * Mann–Whitney with midrank ties): does quantity rank returned
    * line items above kept ones — the threshold-free score every
    * quality-classifier gate gets judged by. Bounded score domain
    * (quantity 1..50) keeps the cumulative window on a 50-row-per-
    * group count table.
    */
  val q241_roc_auc: Q = (s, d) =>
    graft.ops.Eval.rocAuc(
      Scale.fanOut(Tables.lineitem(s, d)).select(
        col("l_linestatus"),
        col("l_quantity").cast("bigint").as("qty"),
        (col("l_returnflag") === "R").as("is_ret")),
      "l_linestatus", "qty", "is_ret")
      .orderBy("l_linestatus")

  /** Per-type OLS daily trend ([[graft.ops.Funnel.olsTrend]]):
    * integer-exact slope/intercept micro-units plus the one-float
    * r², the parametric companion to q223's Theil–Sen — corpus
    * reduces to the (type, day) grid before any window or fold.
    */
  val q242_ols_trend: Q = (s, d) =>
    graft.ops.Funnel.olsTrend(Tables.events(s, d), "event_type", "ts")
      .orderBy("event_type")

  /** 2-D Pareto frontier of parts ([[graft.ops.Eval.paretoFront2d]]):
    * cheapest-for-the-size skyline under (min retail cents, max
    * size) via the grid-prune + exact sort-based finish; the twin is
    * the independent NOT-EXISTS dominance definition.
    */
  val q243_pareto_front: Q = (s, d) =>
    graft.ops.Eval.paretoFront2d(
      Tables.part(s, d).select(col("p_partkey"),
        expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("price_cents"),
        col("p_size").cast("bigint").as("size_v")),
      "price_cents", "size_v")
      .orderBy("price_cents", "p_partkey")

  /** Two-proportion A/B report per event type
    * ([[graft.ops.Eval.abTest]]): users split by id parity, exact
    * ppm rates + lift, pooled z ×1000 — one user-keyed distinct
    * reduction, then everything lives on the types-bounded table.
    */
  val q244_ab_test: Q = (s, d) =>
    graft.ops.Eval.abTest(Tables.events(s, d), "user_id", "event_type",
      pmod(col("user_id"), lit(2L)).cast("long"))
      .orderBy("event_type")

  /** Character-class composition per source
    * ([[graft.ops.TextStats.charClassProfile]]): the mixed-script /
    * mojibake screen — subtractive regex counting with the
    * engine-pinned classes, map-only + one source-keyed reduction.
    */
  val q245_script_mix: Q = (s, d) =>
    TextStats.charClassProfile(Tables.documents(s, d), "source", "text")
      .orderBy("source")

  /** Readability report per language
    * ([[graft.ops.TextStats.readability]]): Flesch Reading Ease +
    * FK grade in exact milli-units with deterministic sentence /
    * syllable proxies — map-only scoring, one lang-keyed fold.
    */
  val q246_readability: Q = (s, d) =>
    TextStats.readability(Tables.documents(s, d), "lang", "text")
      .orderBy("lang")

  /** Indexed exact phrase search
    * ([[graft.ops.TextStats.phraseSearch]]): the corpus's top-5
    * bigrams by document frequency looked back up through the
    * bigram postings join — candidates from the equality key, never
    * instr over every (doc, phrase) pair; output N × docCap bounded.
    */
  val q247_phrase_search: Q = (s, d) =>
    TextStats.phraseSearch(Tables.documents(s, d), "doc_id", "text")
      .orderBy("rank", "doc_id")

  /** LSH retrieval evaluation ([[graft.dedup.Dedup.lshRetrievalEval]]):
    * precision/recall/F1 of the q34 MinHash band-bucket candidate
    * stage against the exact Jaccard-≥-0.6 ground truth from the
    * q143 prefix-filtered join (q143's exact regime: 3-shingles,
    * τ=0.6 — at low τ the prefix filter keeps most keys and the
    * truth join goes quadratic, the documented non-goal). One report
    * row; the truth side never runs an all-pairs scan.
    */
  val q248_lsh_eval: Q = (s, d) =>
    Dedup.lshRetrievalEval(Tables.documents(s, d), "doc_id", "text",
      tauX1000 = 600, numHashes = 32, bands = 8, shingleWidth = 3)

  /** Merged-interval activity coverage per user
    * ([[graft.ops.Funnel.intervalCoverage]]): fixed-TTL event
    * intervals, gaps-and-islands merge, covered vs span seconds —
    * per-user windows only, q141's audited class.
    */
  val q249_interval_coverage: Q = (s, d) =>
    graft.ops.Funnel.intervalCoverage(Tables.events(s, d), "user_id", "ts",
        ttlSec = 1800L)
      .orderBy("user_id")

  /** Markov removal-effect attribution
    * ([[graft.ops.Funnel.markovAttribution]], Anderl et al. 2016):
    * journeys → first-order chain → each channel's credit is the
    * start→conv reach drop when it is removed; 8 integer-ppm
    * value-iteration steps, channels²-bounded chain tables, twin
    * unrolls the same iterations as materialized CTEs.
    */
  val q250_markov_attribution: Q = (s, d) =>
    graft.ops.Funnel.markovAttribution(Tables.events(s, d), "user_id",
        "event_type", "ts", convType = "purchase", iters = 8)
      .orderBy("channel")

  /** Fellegi–Sunter probabilistic record linkage
    * ([[graft.dedup.Linkage.fellegiSunter]], JASA 1969): even/odd
    * customer halves as two CRM extracts, nation-blocked candidates,
    * agreement on name-last-2 / $1000 balance band / market
    * segment; u-probabilities EXACT from the value distributions
    * (Σp² in ppm), m as the standard no-training literals, weights
    * in eighth-bit integer log2 — top-50 scored pairs.
    */
  val q251_record_linkage: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val a = c.where(pmod(col("c_custkey"), lit(2L)) === 0L)
    val b = c.where(pmod(col("c_custkey"), lit(2L)) === 1L)
    import graft.dedup.Linkage
    Linkage.fellegiSunter(a, b, "c_custkey",
        blockKey = col("c_nationkey"),
        fields = Seq(
          Linkage.LinkField("name2", expr("right(c_name, 2)"), 950000L),
          Linkage.LinkField("bal",
            expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000"),
            900000L),
          Linkage.LinkField("seg", col("c_mktsegment"), 850000L)),
        topK = 50)
      .orderBy("rank")
  }

  /** Deterministic negative sampling
    * ([[graft.ops.Mixture.negativeSample]]): 3 hash-drawn
    * never-purchased parts per customer from the real order baskets
    * — the contrastive-training counterpart of q134's
    * hard-negatives; candidate slots by hash61, keyed joins only,
    * one-row max-item broadcast.
    */
  val q252_negative_sample: Q = (s, d) => {
    val inter = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey"))
    Mixture.negativeSample(inter, "o_custkey", "l_partkey",
        Tables.part(s, d), "p_partkey", k = 3, oversample = 3)
      .orderBy("o_custkey", "rank")
  }

  /** Per-user behavioral surprisal
    * ([[graft.ops.Funnel.sequenceSurprisal]]): mean −log2 p of the
    * user's event-type transitions under the corpus's own q202
    * chain — bots walk common loops and score low, broken clients
    * hit rare edges and score high; q106's LM-surprisal instinct on
    * behavior, same eighth-bit integer log surface.
    */
  val q253_sequence_surprisal: Q = (s, d) =>
    graft.ops.Funnel.sequenceSurprisal(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id")
      .orderBy("user_id")

  /** Kneser–Ney next-word prediction
    * ([[graft.ops.TextStats.knNextWord]]): top-3 next words for the
    * 20 most frequent contexts, ranked by the q236 model's exact
    * integer inverse-probability — the LM-serving readback of the
    * trained counts; vocab²-bounded tables, N-bounded rank windows.
    */
  val q254_kn_next_word: Q = (s, d) =>
    TextStats.knNextWord(Tables.documents(s, d), "doc_id", "text",
        topContexts = 20, topK = 3)
      .orderBy("context", "rank")

  /** Pairwise source TF-IDF cosine
    * ([[graft.ops.TextStats.sourceTfidfCosine]]): the weighted
    * companion to q238's vocabulary Jaccard — eighth-bit integer
    * idf, exact DECIMAL dot/norms, one final float rounding per
    * pair; groups²-bounded output.
    */
  val q255_source_tfidf_cosine: Q = (s, d) =>
    TextStats.sourceTfidfCosine(Tables.documents(s, d), "source", "text")
      .orderBy("group_a", "group_b")

  /** NB confidence AUC per language ([[graft.ops.Eval.rocAuc]] over
    * the q212 holdout scores): does the classifier's margin RANK
    * correct predictions above wrong ones — the threshold-free
    * companion to q212's calibration bins (q212 asks "is 80%
    * confidence 80% right", this asks "is higher confidence more
    * right at all"); same margin binning, same holdout split.
    */
  val q256_nb_auc: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val scored = graft.ops.NaiveBayes.trainScore(
      docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
      docs.where(pmod(col("doc_id"), lit(5)) === 0),
      "lang", "doc_id", "text", Seq("lang"))
    graft.ops.Eval.rocAuc(
      scored.select(col("lang"),
        expr("least(margin_e8 div 2, CAST(10 AS BIGINT))").as("conf_bin"),
        (col("lang") === col("pred")).as("ok")),
      "lang", "conf_bin", "ok")
      .orderBy("lang")
  }

  /** Weekly growth accounting
    * ([[graft.ops.Funnel.growthAccounting]]): the active-user bridge
    * — new / retained / resurrected / churned per week with the
    * active = new + retained + resurrected identity; one (user,
    * week) distinct reduction, week-keyed joins only.
    */
  val q257_growth_accounting: Q = (s, d) =>
    graft.ops.Funnel.growthAccounting(Tables.events(s, d), "user_id", "ts")
      .orderBy("week")

  /** Partition agreement between the corpus's two natural labelings
    * ([[graft.ops.Eval.partitionAgreement]], Hubert–Arabie 1985):
    * does `source` recover `lang`? Exact DECIMAL pair-count sums,
    * one shared-verbatim float step for the ARI, directional
    * majority purities in exact ppm; the corpus reduces to the
    * sources × langs contingency table in one partial aggregation.
    */
  val q258_partition_agreement: Q = (s, d) =>
    graft.ops.Eval.partitionAgreement(Tables.documents(s, d),
      "source", "lang")

  /** WOE/IV feature screen ([[graft.ops.Profile.woeIv]], Siddiqi
    * 2006): which lineitem features (line status, quantity band,
    * ship month) separate returned items — per-value Weight of
    * Evidence in eighth-bit integer log2 (Mitchell emitter,
    * sign-by-CASE so no negative division exists), per-feature
    * Information Value from exact ppm share deltas. One stacked
    * corpus pass to the Σ|domain| count table.
    */
  val q259_woe_iv: Q = (s, d) =>
    Profile.woeIv(
      Tables.lineitem(s, d)
        .select(col("l_linestatus"),
          expr("CAST(CAST(l_quantity AS BIGINT) div 10 AS STRING)")
            .as("qty_band"),
          expr("CAST(month(l_shipdate) AS STRING)").as("ship_month"),
          (col("l_returnflag") === "R").as("is_ret")),
      "is_ret", Seq("l_linestatus", "qty_band", "ship_month"))
      .orderBy("feature", "value")

  /** Leave-one-out target encoding
    * ([[graft.ops.Mixture.targetEncodeLoo]], Micci-Barreca 2001):
    * market segment encoded by each customer's PEERS' mean balance
    * (own row excluded — the leakage-safe categorical feature),
    * shrunk toward the global mean with pseudo-count 20. Balances
    * shifted to non-negative cents so no negative division exists;
    * one segment-keyed reduction broadcast back, map-only encode.
    */
  val q260_target_encode: Q = (s, d) =>
    Mixture.targetEncodeLoo(
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT) + 100000")
            .as("bal_cents")),
      "c_custkey", "c_mktsegment", "bal_cents")
      .orderBy("c_custkey")

  /** Poisson-bootstrap CI for the mean order value
    * ([[graft.ops.Eval.bootstrapCiMean]], Chamandy et al. 2012): 40
    * hash-deterministic Poisson(1) replicas, exact integer replica
    * means, CI as exact order statistics (3rd / 38th) — the
    * scalable bootstrap's one-pass shape: a 40× map-side explode
    * into a replica-keyed partial aggregation; windows only over
    * the 40-row replica table.
    */
  val q261_bootstrap_ci: Q = (s, d) =>
    graft.ops.Eval.bootstrapCiMean(
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)")
            .as("price_cents")),
      "o_orderkey", "price_cents", b = 40)

  /** Word-graph communities by deterministic label propagation
    * ([[graft.ops.TextStats.labelPropCommunities]], Raghavan et al.
    * 2007): 4 synchronous rounds with weight-majority relabeling
    * (ties to the smallest label) over the q152 co-occurrence graph,
    * reported as the top-20 communities with exact integer Newman
    * modularity of the final partition. Corpus touched once; every
    * round is one join+argmax over the checkpointed vocab²-bounded
    * edge table. (The synthetic fixture's 31-word uniform vocabulary
    * has no community structure, so the honest report is one giant
    * community at Q = 0 — the oracle pins engine parity; the
    * TWO-TRIANGLE hand graph in `TextStatsSpec` pins the non-trivial
    * behavior.)
    */
  val q262_label_prop: Q = (s, d) =>
    TextStats.labelPropCommunities(Tables.documents(s, d), "doc_id",
      "text", iters = 4, topK = 20)

  /** Golden-record consolidation
    * ([[graft.dedup.Linkage.goldenRecords]]): q251's Fellegi–Sunter
    * scorer rerun threshold-mode (accept score_e8 ≥ 0 — on this
    * fixture the balance-band + segment agreement level), entities
    * as connected components of the match graph (the q139 star-
    * contraction machinery on 8-byte ids), then one survivorship
    * collapse per entity: canonical name/segment from the
    * smallest-id member, max shifted balance, member count. CC runs
    * on the accepted pairs only; the collapse is one entity-keyed
    * partial aggregation.
    */
  val q263_golden_records: Q = (s, d) => {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"), col("c_name"),
        col("c_mktsegment"), col("c_acctbal"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT) + 100000")
          .as("bal_shift_cents"))
    import graft.dedup.Linkage
    val fields = Seq(
      Linkage.LinkField("name2", expr("right(c_name, 2)"), 950000L),
      Linkage.LinkField("bal",
        expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000"),
        900000L),
      Linkage.LinkField("seg", col("c_mktsegment"), 850000L))
    val pairs = Linkage.scorePairs(
        c.where(pmod(col("c_custkey"), lit(2L)) === 0L),
        c.where(pmod(col("c_custkey"), lit(2L)) === 1L),
        "c_custkey", blockKey = col("c_nationkey"), fields = fields)
      .where(col("score_e8") >= 0L)
      .select("id_a", "id_b")
    Linkage.goldenRecords(c, "c_custkey", pairs,
        canonCols = Seq("c_name", "c_mktsegment"),
        maxCols = Seq("bal_shift_cents"))
      .orderBy("entity_id")
  }

  /** CUPED variance-reduced A/B ([[graft.ops.Eval.cupedAbTest]],
    * Deng-Xu-Kohavi-Walker 2013): id-parity variants, pre/post-period
    * per-user event counts split at the exact integer midpoint of
    * the event-time range, exact six-moment sums, sign-symmetric
    * exact θ ppm, adjusted means and 1−ρ² as single shared float
    * steps. One user reduction; the report composes one-row
    * broadcast scalars.
    */
  val q264_cuped: Q = (s, d) =>
    graft.ops.Eval.cupedAbTest(Tables.events(s, d), "user_id", "ts",
      pmod(col("user_id"), lit(2L)))

  /** Coarsened-exact-matching ATT ([[graft.ops.Eval.cemAtt]], Iacus
    * et al. 2012) — the third causal lens after DiD (q272) and CUPED
    * (q264), for when treatment was never randomized: even-custkey
    * "treated" customers matched to odd-custkey controls inside the
    * q279 coarsening grid (nation × segment × balance band), outcome
    * = lifetime order spend in cents; unmatched strata dropped and
    * counted.
    */
  val q297_cem_att: Q = (s, d) => {
    val spend = Tables.orders(s, d).groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .as("spend_c"))
    val base = Tables.customer(s, d)
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) " +
          "div 100000").as("bal_band"),
        (pmod(col("c_custkey"), lit(2L)) === 0L).as("treated"),
        coalesce(col("spend_c"), lit(0L)).as("spend_c"))
    graft.ops.Eval.cemAtt(base, "treated", "spend_c",
      Seq("c_nationkey", "c_mktsegment", "bal_band"))
  }

  /** Cochran–Mantel–Haenszel test ([[graft.ops.Eval.cmhTest]]) on
    * the q297 design: even/odd-custkey "treatment" vs has-an-URGENT-
    * order outcome, stratified by nation — does the association
    * survive controlling for geography. Exact ×10⁶ E/V strata terms,
    * χ² the one float step, MH common odds ratio.
    */
  val q301_cmh_test: Q = (s, d) => {
    val urgent = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(max(when(col("o_orderpriority") === "1-URGENT", 1L)
        .otherwise(0L)).as("u"))
    val base = Tables.customer(s, d)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_nationkey"),
        (pmod(col("c_custkey"), lit(2L)) === 0L).as("treated"),
        (coalesce(col("u"), lit(0L)) === 1L).as("converted"))
    graft.ops.Eval.cmhTest(base, "c_nationkey", "treated", "converted")
  }

  /** Qini uplift curve ([[graft.ops.Eval.qiniCurve]], Radcliffe
    * 2007) over the same arms/outcome as q301, scored by the q279
    * balance band: does targeting rich-balance customers first buy
    * extra conversions — cumulative exact-milli Qini and exact-ppm
    * uplift at every score cut, computed on the bounded band table.
    */
  val q302_qini_curve: Q = (s, d) => {
    val urgent = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(max(when(col("o_orderpriority") === "1-URGENT", 1L)
        .otherwise(0L)).as("u"))
    val base = Tables.customer(s, d)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left")
      .select(
        expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) " +
          "div 100000").as("bal_band"),
        (pmod(col("c_custkey"), lit(2L)) === 0L).as("treated"),
        (coalesce(col("u"), lit(0L)) === 1L).as("converted"))
    graft.ops.Eval.qiniCurve(base, "bal_band", "treated", "converted")
      .orderBy(desc("score"))
  }

  /** Greedy max-coverage selection
    * ([[graft.ops.Mixture.maxCoverageSelect]], Nemhauser et al.
    * 1978): the 4 documents that together cover the most distinct
    * 3-shingles, one argmax round each with exact disjoint marginal
    * gains — the submodular "corpus summary" selection. One shingle
    * pass; k bounded driver rounds over the checkpointed (doc,
    * hash) table.
    */
  val q265_max_coverage: Q = (s, d) =>
    Mixture.maxCoverageSelect(Tables.documents(s, d), "doc_id",
      "text", k = 4, shingleWidth = 3)
      .orderBy("round")

  /** Leave-one-source-out impact ([[graft.ops.Profile.looGroupImpact]]):
    * per source, the corpus mean document length with and without
    * that source and the signed shift its removal causes — the
    * group-ablation data-valuation screen. One source-keyed
    * reduction; one-row totals broadcast.
    */
  val q266_loo_source_impact: Q = (s, d) =>
    Profile.looGroupImpact(
      Tables.documents(s, d)
        .select(col("source"), length(col("text")).cast("long").as("len")),
      "source", "len")
      .orderBy("source")

  /** Near-duplicate image clusters
    * ([[graft.multimodal.Multimodal.hashDupClusters]]): the q166
    * dHash pipeline turned into dedup — a repeating ingest feed
    * (every document renders the test pattern of its id mod 97, so
    * each pattern recurs ~5×), 16-bit band-bucket candidates
    * (pigeonhole-exact), popcount verify at hamming 0 — the
    * distinct test gradients sit within a few bits of each other,
    * so EXACT perceptual identity is the right dup bar here — CC
    * clusters with min-id canonicals. The twin recomputes the same
    * closed-form dHashes arithmetically and the same clusters via a
    * RECURSIVE closure.
    */
  val q267_image_dup_clusters: Q = (s, d) => {
    val synth = udf((id: Long) => {
      val sid = id % 97
      graft.multimodal.PngCodec.testImage(sid, (sid % 13 + 4).toInt,
        (sid % 11 + 4).toInt)
    })
    val media = Tables.documents(s, d)
      .select(col("doc_id"), synth(col("doc_id")).as("png"))
    val hashed = graft.multimodal.Multimodal.pngDHash(media, "doc_id", "png")
      .select(col("id").as("doc_id"), col("dhash_lo"), col("dhash_hi"))
    graft.multimodal.Multimodal.hashDupClusters(hashed, "doc_id",
        "dhash_lo", "dhash_hi", maxHamming = 0, maxBucket = 512L)
      .orderBy("cluster_id")
  }

  /** TwoNN intrinsic dimension of the embedding space
    * ([[graft.sim.Similarity.intrinsicDimension]], Facco et al.
    * 2017): per-vector 2nd/1st-NN distance ratios over EXACT integer
    * squared L2 in the int8 SQ space, neighbors from the q76/q153
    * bucketed LSH chain, Mitchell eighth-bit logs, one final float
    * step for the MLE — "how many dimensions do these embeddings
    * actually use". (The synthetic fixture's embeddings are
    * near-uniform 64-dim noise — TwoNN's documented worst case,
    * where ratios crowd 1 and the reading saturates high; the
    * oracle pins engine parity, and `SimilaritySpec` pins the
    * calibrated ≈4 reading on a true 4-dim cloud.)
    */
  val q268_intrinsic_dim: Q = (s, d) =>
    Similarity.intrinsicDimension(Tables.embeddings(s, d), "vec_id",
      "embedding", dim = 64, numBits = 8)

  /** Neyman-allocation stratified sample
    * ([[graft.ops.Mixture.neymanSample]], Neyman 1934): a 100-doc
    * budget split across sources ∝ N_h·σ_h of document length —
    * variance-optimal at fixed budget, the upgrade over q177's
    * proportional split; exact DECIMAL variance numerators, one
    * shared floor(sqrt) step, hash-rank membership via the
    * bounded-heap top-k.
    */
  val q269_neyman_sample: Q = (s, d) =>
    Mixture.neymanSample(
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          length(col("text")).cast("long").as("len")),
      "source", "doc_id", "len", totalK = 100)
      .orderBy("source", "sample_rank")

  /** Hopkins clusterability of the embedding space
    * ([[graft.sim.Similarity.hopkins]], Hopkins–Skellam 1954):
    * hash-drawn uniform probes vs hash-sampled real points on the
    * int8 SQ grid, exact integer squared-L2 nearest distances, H as
    * one exact ppm division — "is there any cluster structure worth
    * paying for". The near-uniform synthetic embeddings should read
    * H ≈ ½; the spec pins the clustered ≈1 and regular ≈0 regimes.
    */
  val q270_hopkins: Q = (s, d) =>
    Similarity.hopkins(Tables.embeddings(s, d), "vec_id", "embedding",
      dim = 64, m = 50)

  /** Calinski–Harabasz validity of the q135 cell partition
    * ([[graft.sim.Similarity.chIndex]], 1974): between/within
    * variance ratio over exact int8-quantized sums — did the IVF
    * cells separate anything? One posexplode pass to the k×dim
    * moment table; exact ×10⁶ per-cell mean truncations, one exact
    * integer division for CH.
    */
  val q271_ch_index: Q = (s, d) =>
    Similarity.chIndex(Scale.fanOut(Tables.embeddings(s, d)),
      "vec_id", "embedding", numCells = 4, iters = 1, sampleN = 64)

  /** Simplified silhouette ([[graft.sim.Similarity.silhouette]],
    * Hruschka et al. 2004) over the same q271 partition: the
    * per-cell companion to CH's one-row verdict — which cells are
    * tight, which bleed into a neighbor. Exact integers end to end
    * (squared-distance variant over int8 SQ codes, sign-symmetric
    * divides).
    */
  val q294_silhouette: Q = (s, d) =>
    Similarity.silhouette(Scale.fanOut(Tables.embeddings(s, d)),
        "vec_id", "embedding", numCells = 4, iters = 1, sampleN = 64)
      .orderBy("cell")

  /** Difference-in-differences report
    * ([[graft.ops.Eval.didReport]], Card–Krueger form): the q264
    * pre/post per-user split read as a quasi-experiment — per-variant
    * exact pre/post mean activity and the parallel-trends-adjusted
    * effect, all integer (subtractions of exact truncated means).
    */
  val q272_did_report: Q = (s, d) =>
    graft.ops.Eval.didReport(Tables.events(s, d), "user_id", "ts",
      pmod(col("user_id"), lit(2L)))

  /** Best Gini stump split ([[graft.ops.Profile.bestGiniSplit]],
    * CART): the single quantity threshold best separating returned
    * lineitems — exact DECIMAL impurity per candidate threshold,
    * argmin ties to the smallest value; one reduction to the 50-value
    * quantity table.
    */
  val q273_gini_split: Q = (s, d) =>
    Profile.bestGiniSplit(
      Tables.lineitem(s, d)
        .select(expr("CAST(l_quantity AS BIGINT)").as("qty"),
          (col("l_returnflag") === "R").as("is_ret")),
      "qty", "is_ret")

  /** Kendall τ-b rank agreement ([[graft.ops.Eval.kendallTauB]],
    * 1945): per nation, do customers' order-count ranks track their
    * spend-band ranks — counted exactly on the bounded (count, band)
    * contingency grid (O(cells²), never O(rows²)), tie-adjusted, one
    * shared float step.
    */
  val q274_kendall_tau: Q = (s, d) => {
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("spend_cents"))
      .withColumn("spend_band", expr("spend_cents div 5000000"))
    graft.ops.Eval.kendallTauB(
      perCust.join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("n_orders"), col("spend_band")),
      "c_nationkey", "n_orders", "spend_band")
      .orderBy("c_nationkey")
  }

  /** Poisson-bootstrap CI for a RATIO metric
    * ([[graft.ops.Eval.bootstrapCiRatio]]): price-per-unit across
    * lineitems — replica statistic = ratio of the two reweighted
    * sums, exact integers, order-statistic bounds; the same
    * hash-deterministic replica machinery as q261.
    */
  val q275_bootstrap_ratio: Q = (s, d) =>
    graft.ops.Eval.bootstrapCiRatio(
      Tables.lineitem(s, d)
        .select(expr("l_orderkey * 8 + l_linenumber").as("li_id"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            .as("price_cents"),
          expr("CAST(l_quantity AS BIGINT)").as("qty")),
      "li_id", "price_cents", "qty", b = 40)

  /** Spearman ρ companion to q274
    * ([[graft.ops.Eval.spearmanRho]]): per-nation monotone
    * association between order-count and spend-band ranks — tied
    * midranks in exact ×2 integers from the grid marginals, one
    * shared Pearson float step.
    */
  val q276_spearman_rho: Q = (s, d) => {
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("spend_cents"))
      .withColumn("spend_band", expr("spend_cents div 5000000"))
    graft.ops.Eval.spearmanRho(
      perCust.join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("n_orders"), col("spend_band")),
      "c_nationkey", "n_orders", "spend_band")
      .orderBy("c_nationkey")
  }

  /** χ² independence + Cramér's V per nation
    * ([[graft.ops.Eval.chiSquared]]): completes the q274/q276 grid
    * trio — any-dependence test between order-count and spend-band
    * with exact per-cell DECIMAL terms over the FULL marginal grid
    * (zero cells included) and one float step for the effect size.
    */
  val q277_chi_squared: Q = (s, d) => {
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("spend_cents"))
      .withColumn("spend_band", expr("spend_cents div 5000000"))
    graft.ops.Eval.chiSquared(
      perCust.join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("n_orders"), col("spend_band")),
      "c_nationkey", "n_orders", "spend_band")
      .orderBy("c_nationkey")
  }

  /** Mann–Whitney U location drift of every source against src0
    * ([[graft.ops.Eval.mannWhitneyU]]): the rank-based fifth drift
    * lens after PSI (q155), W1 (q201), JSD (q185) and KS (q227) —
    * "has the length distribution SHIFTED?" with a tie-corrected
    * calibrated z. Exact ×2 midrank sums over the (source, n_chars)
    * count table; the z is the one float step.
    */
  val q278_mwu_drift: Q = (s, d) =>
    graft.ops.Eval.mannWhitneyU(Tables.documents(s, d),
        "source", "n_chars", baseline = "src0")
      .orderBy("source")

  /** k-anonymity / l-diversity privacy audit of the customer table
    * ([[graft.ops.Profile.kAnonymity]]): quasi-identifiers
    * (nation, segment, $1000 balance band) vs the behavioral
    * sensitive attribute (best order priority) — per-k
    * re-identifiable population, global k-anonymity/l-diversity,
    * and the single-sensitive-value disclosure share, all exact.
    */
  val q279_k_anonymity: Q = (s, d) => {
    val sens = Tables.orders(s, d).groupBy("o_custkey")
      .agg(min("o_orderpriority").as("sv"))
    val base = Tables.customer(s, d)
      .join(sens, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) " +
          "div 100000").as("bal_band"),
        coalesce(col("sv"), lit("NONE")).as("sv"))
    graft.ops.Profile.kAnonymity(base,
        Seq("c_nationkey", "c_mktsegment", "bal_band"), "sv")
      .orderBy("k")
  }

  /** t-closeness audit ([[graft.ops.Profile.tCloseness]], Li et al.
    * ICDE 2007) over the SAME quasi-identifier classes and sensitive
    * attribute as q279: per class, the exact variational distance
    * between its sensitive-value distribution and the corpus's —
    * the skew attack l-diversity misses. Common-denominator integer
    * arithmetic, one divide per class.
    */
  val q296_t_closeness: Q = (s, d) => {
    val sens = Tables.orders(s, d).groupBy("o_custkey")
      .agg(min("o_orderpriority").as("sv"))
    val base = Tables.customer(s, d)
      .join(sens, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) " +
          "div 100000").as("bal_band"),
        coalesce(col("sv"), lit("NONE")).as("sv"))
    graft.ops.Profile.tCloseness(base,
        Seq("c_nationkey", "c_mktsegment", "bal_band"), "sv")
      .orderBy("c_nationkey", "c_mktsegment", "bal_band")
  }

  /** Exact Shapley-value channel attribution
    * ([[graft.ops.Funnel.shapleyAttribution]]): completes the
    * attribution trio — last-touch (q228) credits the final click,
    * Markov removal effects (q250) credit path criticality, Shapley
    * credits average marginal conversion lift over the 2³ exposure
    * coalitions of (click, view, signup) → purchase. Exact integer
    * Shapley numerators; the c! division is the one guarded
    * integral divide.
    */
  val q280_shapley_attribution: Q = (s, d) =>
    graft.ops.Funnel.shapleyAttribution(Tables.events(s, d),
        "user_id", "event_type",
        touches = Seq("click", "view", "signup"),
        conversion = "purchase")
      .orderBy("channel")

  /** Two-cohort log-rank churn test
    * ([[graft.ops.Funnel.logRankTest]]): the significance companion
    * to q207's KM curve — do users who ever signed up churn at a
    * different rate? Exact ×10⁶ hypergeometric E/V terms over the
    * lifetime-day grid; the χ² is the one float step.
    */
  val q281_logrank: Q = (s, d) =>
    graft.ops.Funnel.logRankTest(Tables.events(s, d), "user_id", "ts",
        expr("CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END"))
      .orderBy("n0")

  /** Matryoshka truncation recall
    * ([[graft.sim.Similarity.matryoshkaRecall]]): retrieval quality
    * of prefix-truncated embeddings (16 and 32 of 64 dims) against
    * the full-dim exact top-5 — the cheap-first-stage knob of
    * nested-representation models, measured with the q123/q149
    * recall harness.
    */
  val q282_matryoshka_recall: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    Similarity.matryoshkaRecall(e, "vec_id", "embedding",
        e.where(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, dims = Seq(16, 32))
      .orderBy("trunc_dim", "query_id")
  }

  /** Brown double-exponential-smoothing forecast per event type
    * ([[graft.ops.Funnel.brownForecast]]): the trend-aware sibling of
    * q220's EWMA chart — float-free integer (level, trend) state in
    * milli units, 1- and 7-step forecasts, and the one-step backtest
    * MAE that keeps the report honest.
    */
  val q283_brown_forecast: Q = (s, d) =>
    graft.ops.Funnel.brownForecast(Tables.events(s, d),
        "event_type", "ts")
      .orderBy("event_type")

  /** Holt–Winters additive forecast
    * ([[graft.ops.Funnel.holtWinters]], Winters 1960): q283's double
    * smoothing plus the weekly seasonal component — level, trend and
    * a 7-slot additive season per event type, float-free milli
    * integers, 1/7-day forecasts, seasonal amplitude, and the
    * two-season-warmup backtest MAE.
    */
  val q298_holt_winters: Q = (s, d) =>
    graft.ops.Funnel.holtWinters(Tables.events(s, d),
        "event_type", "ts")
      .orderBy("event_type")

  /** Benjamini–Hochberg FDR screen over 25 per-nation urgent-order
    * rate tests ([[graft.ops.Eval.bhFdrScreen]]): the multiple-
    * testing guard for simultaneous segment deltas — exact counts,
    * one z float step, BH critical values as emitted Φ⁻¹ constants
    * (the dcgGain one-emitter discipline).
    */
  val q284_bh_fdr: Q = (s, d) =>
    graft.ops.Eval.bhFdrScreen(
      Tables.orders(s, d).join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("o_orderpriority")),
      "c_nationkey", expr("o_orderpriority = '1-URGENT'"), m = 25)
      .orderBy("rnk")

  /** Two-proportion sample-size table
    * ([[graft.ops.Eval.sampleSizeTwoProportions]], Fleiss 1981) over
    * the q284 per-nation URGENT rates: units per arm to detect a
    * +10% relative lift at α=5%/power 80% — the design-phase
    * companion to the q244 A/B readback and the q284 screen. Emitted
    * Φ⁻¹ literals, two floor(√) shared steps, ceiling division.
    */
  val q304_sample_size: Q = (s, d) =>
    graft.ops.Eval.sampleSizeTwoProportions(
      Tables.orders(s, d).join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("o_orderpriority")),
      "c_nationkey", expr("o_orderpriority = '1-URGENT'"))
      .orderBy("c_nationkey")

  /** Cronbach's α ([[graft.ops.Profile.cronbachAlpha]]) of the
    * three-year customer-spend "scale" (items = 1994/1995/1996 spend
    * cents per customer): is multi-year spend one reliable construct
    * — the reliability lens beside the q295/q180 agreement family.
    * Fully integer (common-denominator variances, sign-symmetric).
    */
  val q305_cronbach: Q = (s, d) => {
    val per = Tables.orders(s, d)
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .where(col("y").between(1994, 1996))
      .groupBy("o_custkey").pivot("y", Seq(1994, 1995, 1996)).sum("c")
    val base = Tables.customer(s, d)
      .join(per, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("1994"), lit(0L)).as("y94"),
        coalesce(col("1995"), lit(0L)).as("y95"),
        coalesce(col("1996"), lit(0L)).as("y96"))
    graft.ops.Profile.cronbachAlpha(base, Seq("y94", "y95", "y96"))
  }

  /** Wald SPRT decision table ([[graft.ops.Eval.sprtScreen]]) over
    * the q304 per-nation URGENT rates: which nations have ALREADY
    * crossed the always-valid sequential boundaries for a +10%
    * relative lift over the pooled rate — the interim-peeking-safe
    * companion to the fixed-n design. Integer eighth-bit-log LLR
    * fold, emitted Wald boundaries.
    */
  val q306_sprt: Q = (s, d) =>
    graft.ops.Eval.sprtScreen(
      Tables.orders(s, d).join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("o_orderpriority")),
      "c_nationkey", expr("o_orderpriority = '1-URGENT'"))
      .orderBy("g")

  /** Simple Good–Turing unseen-mass estimate per language
    * ([[graft.ops.TextStats.goodTuring]], Good 1953 / Gale & Sampson
    * 1995): P₀ = N₁/N — the vocabulary mass a crawl has NOT seen
    * yet, the predictive rendering of q165's Heaps curve (does
    * another pass over this source still buy words?) — plus the
    * Turing-smoothed singleton frequency r*₁ = 2·N₂/N₁. Exact ppm.
    */
  val q307_good_turing: Q = (s, d) =>
    TextStats.goodTuring(Tables.documents(s, d), "lang", "text")
      .orderBy("lang")

  /** Yule's characteristic K per source
    * ([[graft.ops.TextStats.yuleK]], Yule 1944): the length-
    * invariant lexical-repetitiveness constant — the honest
    * cross-source repetition comparison TTR can't give (TTR falls
    * with volume by Heaps' law; K doesn't). ×100 exact integer.
    */
  val q308_yule_k: Q = (s, d) =>
    TextStats.yuleK(Tables.documents(s, d), "source", "text")
      .orderBy("source")

  /** Reliability diagram + expected calibration error
    * ([[graft.ops.Eval.calibrationBins]], Naeini et al. 2015): a
    * per-brand return-rate model trained on shipments before
    * 1995-06-01 forecasts P(return) for later shipments; ECE scores
    * the forecast against the observed rate in 10 confidence bins.
    * The measurement companion to q286's isotonic repair and q212's
    * accuracy-vs-confidence curve. Exact integer ppm.
    */
  val q309_ece_report: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("l_shipdate"),
        expr("CASE WHEN l_returnflag = 'R' THEN CAST(1 AS BIGINT) " +
          "ELSE CAST(0 AS BIGINT) END").as("y"))
    val train = li.where(col("l_shipdate") < lit("1995-06-01"))
      .groupBy("p_brand")
      .agg(expr("CAST((1000000 * sum(y)) div count(*) AS BIGINT)").as("p"))
    val test = li.where(col("l_shipdate") >= lit("1995-06-01"))
      .join(broadcast(train), Seq("p_brand")) // brand dim is bounded
    graft.ops.Eval.calibrationBins(test, "p", col("y")).orderBy("bin")
  }

  /** Risk–coverage curve over the q309 brand return-rate forecast
    * ([[graft.ops.Eval.riskCoverage]], El-Yaniv & Wiener 2010):
    * shipments accepted in ascending forecast-risk order, selective
    * risk at every score cut — the abstention operating table where
    * q309's ECE scores the probabilities and q289's conformal bands
    * the residuals. Exact ppm; the cumulative window runs over the
    * score-domain-bounded count table.
    */
  val q346_risk_coverage: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("l_shipdate"),
        expr("CASE WHEN l_returnflag = 'R' THEN CAST(1 AS BIGINT) " +
          "ELSE CAST(0 AS BIGINT) END").as("y"))
    val train = li.where(col("l_shipdate") < lit("1995-06-01"))
      .groupBy("p_brand")
      .agg(expr("CAST((1000000 * sum(y)) div count(*) AS BIGINT)").as("p"))
    val test = li.where(col("l_shipdate") >= lit("1995-06-01"))
      .join(broadcast(train), Seq("p_brand")) // brand dim is bounded
    graft.ops.Eval.riskCoverage(test, "p", col("y")).orderBy("score_ppm")
  }

  /** One DoReMi-style domain-reweighting step over sources
    * ([[graft.ops.Mixture.doremiStep]], Xie et al. 2023): sources
    * whose mean per-token bigram surprisal exceeds the corpus mean
    * are upweighted by the Hedge rule w ∝ share·2^(η·excess/8) —
    * the loss-aware counterpart to q138's purely size-based
    * temperature mixture. Integer end to end (shared Mitchell-log +
    * exp2 emitters), ppm out.
    */
  val q310_doremi_step: Q = (s, d) =>
    graft.ops.Mixture.doremiStep(Tables.documents(s, d), "doc_id",
        "source", "text")
      .orderBy("src")

  /** Concentration / diversity report across three dimensions
    * ([[graft.ops.Profile.concentration]]): HHI, Simpson's D,
    * effective group count and top-group share for corpus-by-source,
    * corpus-by-language and orders-by-priority — "is one domain
    * quietly eating the mixture" as one unioned dashboard row per
    * dimension, the scalar companions to q229's Lorenz curve and
    * q189's length Gini. Exact integer ppm.
    */
  val q311_concentration: Q = (s, d) =>
    graft.ops.Profile.concentration(Tables.documents(s, d), "source",
        "docs_by_source")
      .unionByName(graft.ops.Profile.concentration(
        Tables.documents(s, d), "lang", "docs_by_lang"))
      .unionByName(graft.ops.Profile.concentration(
        Tables.orders(s, d), "o_orderpriority", "orders_by_priority"))
      .orderBy("dim")

  /** Pairwise LM cross-perplexity matrix between sources
    * ([[graft.ops.TextStats.lmCrossPerplexity]], cf. Moore & Lewis
    * 2010): source a's bigrams scored under source b's add-one
    * bigram LM — the DIRECTIONAL domain-transfer distance the
    * symmetric q185 JSD can't give; diagonal = self-surprisal.
    * Shared Mitchell-log emitter, exact integer eighth-bits.
    */
  val q312_lm_cross_ppl: Q = (s, d) =>
    TextStats.lmCrossPerplexity(Tables.documents(s, d), "doc_id",
        "source", "text")
      .orderBy("group_a", "group_b")

  /** Brier score + Murphy decomposition of the q309 forecast
    * ([[graft.ops.Eval.brierDecomposition]], Murphy 1973): the
    * proper-scoring-rule mean split into reliability − resolution +
    * uncertainty over the same confidence bins — whether fixing the
    * q309 miscalibration would even matter relative to the
    * forecast's discrimination. ×10¹² exact integer.
    */
  val q314_brier_decomp: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("l_shipdate"),
        expr("CASE WHEN l_returnflag = 'R' THEN CAST(1 AS BIGINT) " +
          "ELSE CAST(0 AS BIGINT) END").as("y"))
    val train = li.where(col("l_shipdate") < lit("1995-06-01"))
      .groupBy("p_brand")
      .agg(expr("CAST((1000000 * sum(y)) div count(*) AS BIGINT)").as("p"))
    val test = li.where(col("l_shipdate") >= lit("1995-06-01"))
      .join(broadcast(train), Seq("p_brand"))
    graft.ops.Eval.brierDecomposition(test, "p", col("y")).orderBy("n")
  }

  /** Burrows' Delta stylometric distance between sources
    * ([[graft.ops.TextStats.burrowsDelta]], Burrows 2002): mean
    * |z_a − z_b| over the corpus's 50 most frequent (function)
    * words — the style lens beside q255's topic cosine. Integer
    * ppm rates, common-denominator variance, floor(√), ×1000 out.
    */
  val q313_burrows_delta: Q = (s, d) =>
    TextStats.burrowsDelta(Tables.documents(s, d), "source", "text")
      .orderBy("group_a", "group_b")

  /** Worst-surprisal span per document
    * ([[graft.ops.TextStats.surprisalSpans]]): WHERE each document
    * goes wrong under the corpus LM — the quality analog of q80's
    * duplicated-span localization (cut the mojibake paragraph, not
    * the document). 8-bigram windows, integer eighth-bits,
    * earliest-position tie-break.
    */
  val q317_surprisal_spans: Q = (s, d) =>
    TextStats.surprisalSpans(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  /** Per-dimension label ANOVA of the embeddings
    * ([[graft.sim.Similarity.dimAnova]]): which coordinates carry
    * the label signal (Fisher F + η² per dim over the q108 int8
    * grid) — the evidence-based truncation screen beside q282's
    * positional Matryoshka cut.
    */
  val q318_dim_anova: Q = (s, d) =>
    Similarity.dimAnova(Scale.fanOut(Tables.embeddings(s, d)),
        "embedding", "label")
      .orderBy("dim")

  /** Seasonal-strength report per event type
    * ([[graft.ops.Funnel.seasonalStrength]]): day-of-week and
    * hour-of-day η² over the zero-filled count grids — names and
    * sizes the cyclic structure q316's Durbin–Watson only flags.
    * Shared q315 floored-SS arithmetic, span-bounded grids.
    */
  val q319_seasonal_strength: Q = (s, d) =>
    graft.ops.Funnel.seasonalStrength(Tables.events(s, d), "event_type",
        "ts")
      .orderBy("event_type")

  /** Brown–Forsythe spread-homogeneity test of order value by
    * priority ([[graft.ops.Eval.brownForsythe]], Brown & Forsythe
    * 1974): the assumption check behind q315's mean comparison —
    * ANOVA on |v − group median| with the exact ceil-rank median,
    * all integer.
    */
  val q321_brown_forsythe: Q = (s, d) =>
    graft.ops.Eval.brownForsythe(Tables.orders(s, d), "o_orderpriority",
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"))

  /** Kruskal–Wallis rank test of order value ($100 bands) by
    * priority ([[graft.ops.Eval.kruskalWallis]], 1952): the
    * nonparametric closer of the compare-k-groups family —
    * parametric F (q315), spread check (q321), rank H (this). Exact
    * ×2 midrank sums, one-float-step tie-corrected H + ε².
    */
  val q322_kruskal_wallis: Q = (s, d) =>
    graft.ops.Eval.kruskalWallis(Tables.orders(s, d), "o_orderpriority",
      expr("CAST(round(o_totalprice * 100) AS BIGINT) div 10000"))

  /** Standardized Pearson residuals of the lang × source table
    * ([[graft.ops.Eval.chiResiduals]]): the per-cell drill-down
    * behind a significant independence test — WHICH source
    * over-indexes WHICH language and by how many σ. Exact ×10⁶
    * expected counts on the full marginal grid, ×1000 residuals.
    */
  val q323_chi_residuals: Q = (s, d) =>
    graft.ops.Eval.chiResiduals(Tables.documents(s, d), "lang", "source")
      .orderBy("lang", "source")

  /** Jonckheere–Terpstra ordered trend of order value along the
    * priority scale ([[graft.ops.Eval.jonckheereTrend]], 1954):
    * "does spend fall as priority loosens" — the ordered-alternative
    * question q322's unordered H can't pose. Exact integer
    * concordance share, ties half-counted, no normal approximation.
    */
  val q324_jonckheere: Q = (s, d) =>
    graft.ops.Eval.jonckheereTrend(Tables.orders(s, d),
      expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT) div 10000"))

  /** Cochran's Q over three matched language classifiers
    * ([[graft.ops.Eval.cochranQ]], 1950): NB (q114), the marker
    * langId (q32) and the train-majority baseline on the shared
    * eval split — "do the three differ at all" before any pairwise
    * McNemar drill-down (q290). One exact integral divide, no float.
    */
  val q325_cochran_q: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val tr = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
    val ev = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    val nb = graft.ops.NaiveBayes.trainScore(tr, ev,
      "lang", "doc_id", "text", Seq("lang"))
    // train-majority baseline: argmax count, ties to the greater lang
    // (the struct-max convention)
    val major = tr.groupBy("lang").agg(count(lit(1)).as("c"))
      .agg(max(struct(col("c"), col("lang"))).as("__m"))
      .select(col("__m.lang").as("major"))
    val flags = nb
      .join(ev.select(col("doc_id"),
        TextFns.langId(col("text")).as("pred_b")), Seq("doc_id"))
      .crossJoin(broadcast(major))
      .select((col("lang") === col("pred")).as("x_nb"),
        (col("lang") === col("pred_b")).as("x_li"),
        (col("lang") === col("major")).as("x_mj"))
    graft.ops.Eval.cochranQ(flags, Seq("x_nb", "x_li", "x_mj"))
  }

  /** Friedman matched-block rank test ([[graft.ops.Eval.friedmanTest]],
    * 1937) of 1995/1996/1997 spend on the SAME customers (blocks =
    * customers ordering in all three years): "did spend shift across
    * years, within customer" — the within-subjects counterpart of
    * q322's independent-groups KW, with Kendall's W effect size.
    * Exact integer throughout (×2 midranks, two integral divides).
    */
  val q326_friedman: Q = (s, d) =>
    graft.ops.Eval.friedmanTest(
      Tables.orders(s, d)
        .withColumn("yr", year(col("o_orderdate")).cast("bigint"))
        .where(col("yr").between(1995L, 1997L)),
      "o_custkey", "yr",
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"))

  /** Page's L ordered trend ([[graft.ops.Eval.pageTrend]], 1963) over
    * the same matched customer-year blocks as q326: "does spend RISE
    * year over year, within customer" — q324's JT question asked of
    * matched blocks. page_ppm positions the exact L2 between the
    * perfect-fall floor and perfect-rise ceiling (500000 = no trend).
    */
  val q327_page_trend: Q = (s, d) =>
    graft.ops.Eval.pageTrend(
      Tables.orders(s, d)
        .withColumn("yr", year(col("o_orderdate")).cast("bigint"))
        .where(col("yr").between(1995L, 1997L)),
      "o_custkey", "yr",
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"))

  /** Wilcoxon signed-rank ([[graft.ops.Eval.wilcoxonSignedRank]],
    * 1945) of 1995-vs-1996 spend per customer (pairs = customers
    * ordering in both years, $100 units — the rocAuc discretization
    * contract): the magnitude-weighted paired shift test beside
    * q290's direction-only McNemar. Exact ×2 rank sums; the z is
    * one floor(√) + sign-symmetric divide.
    */
  val q328_wilcoxon: Q = (s, d) => {
    val per = Tables.orders(s, d)
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .where(col("y").between(1995, 1996))
      .groupBy("o_custkey").pivot("y", Seq(1995, 1996)).sum("c")
      .where(col("1995").isNotNull && col("1996").isNotNull)
    graft.ops.Eval.wilcoxonSignedRank(per,
      expr("`1995` div 10000"), expr("`1996` div 10000"))
  }

  /** Pairwise Cliff's delta ([[graft.ops.Eval.cliffsDelta]], 1993)
    * between sources' doc-length distributions — the ordinal effect
    * size beside q278's MWU z (z says "shifted, confidently"; δ says
    * "by how much", scale-free): exact ppm off the per-source length
    * count grid via the q324 cumulative machinery.
    */
  val q329_cliffs_delta: Q = (s, d) =>
    graft.ops.Eval.cliffsDelta(Tables.documents(s, d), "source",
        col("n_chars"))
      .orderBy("g_a", "g_b")

  /** Template-boilerplate screen
    * ([[graft.ops.TextStats.templateBoilerplate]]): first/last-3-token
    * grams shared by ≥ 2 docs of one source — the CCNet/RefinedWeb
    * header-footer discovery report (WHAT page furniture to strip and
    * how much of each source it covers), the document-edge complement
    * to q119's intra-doc repetition and q80's span dedup. One map-only
    * edge-gram scan + one count reduction, exact ppm shares.
    */
  val q330_template_boilerplate: Q = (s, d) =>
    graft.ops.TextStats.templateBoilerplate(Tables.documents(s, d),
        "source", "text", k = 3, minDocs = 2L)
      .orderBy("source", "kind", "gram")

  /** Ljung–Box portmanteau whiteness test
    * ([[graft.ops.Funnel.ljungBox]], 1978) per event type over the
    * hourly arrival series: q226's 26 ACF lags folded into the one
    * "any serial structure at all" χ²_m statistic — the residual
    * diagnostic beside q316's DW. Exact integers on q226's exact
    * acf_ppm surface.
    */
  val q331_ljung_box: Q = (s, d) =>
    graft.ops.Funnel.ljungBox(Tables.events(s, d), "event_type", "ts")
      .orderBy("event_type")

  /** Wald–Wolfowitz runs test ([[graft.ops.Funnel.runsTest]], 1940)
    * of daily revenue around its exact median: sign-regime clumping
    * (trend / level shifts) vs oscillation — the randomness check DW
    * (q316) and Mann–Kendall (q199) bracket. Exact median off the
    * value-count table, exact integer z via floor(√) +
    * sign-symmetric divide.
    */
  val q332_runs_test: Q = (s, d) =>
    graft.ops.Funnel.runsTest(Tables.orders(s, d), "o_orderdate",
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"))

  /** Theil-T inequality decomposition
    * ([[graft.ops.Profile.theilDecomposition]], 1967) of per-customer
    * revenue by nation: splits q229's whole-corpus concentration into
    * between-nation vs within-nation shares — the additive-decomposing
    * inequality index. Integer-exact through the shared Mitchell e256
    * ratio-log emitter (the q155 PSI discipline, 32× finer).
    */
  val q333_theil: Q = (s, d) => {
    val per = Tables.orders(s, d).groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .cast("long").as("cents"))
    val base = per
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("cents"))
    graft.ops.Profile.theilDecomposition(base, "n_name", col("cents"))
      .orderBy("n_name")
  }

  /** Cohen's d vs the src0 baseline ([[graft.ops.Eval.cohensD]],
    * 1988) over sources' doc-length distributions — the parametric
    * effect size completing the location-shift trio: q278's MWU z
    * (confidence), q329's Cliff's δ (ordinal magnitude), d
    * (standardized-scale magnitude, the number q304's power analysis
    * consumes). Exact moments, one floor(√) divide.
    */
  val q334_cohens_d: Q = (s, d) =>
    graft.ops.Eval.cohensD(Tables.documents(s, d), "source",
        col("n_chars"), baseline = "src0")
      .orderBy("source")

  /** Rand + Adjusted Rand between the heuristic langid partition
    * (q32) and the true `lang` labels
    * ([[graft.ops.Eval.adjustedRand]], Hubert & Arabie 1985): the
    * chance-corrected pair-counting agreement — the
    * clustering-audit complement to q114's kappa (which needs
    * ALIGNED label names; ARI scores the partition structure alone).
    * vs q258 (`partitionAgreement`, source-vs-lang, float-step ARI):
    * this is the integer-EXACT rational form over a different
    * pairing, with the plain Rand index and a streaming readback.
    * Exact rational C(x,2) sums, one sign-symmetric ppm divide.
    */
  val q335_adjusted_rand: Q = (s, d) =>
    graft.ops.Eval.adjustedRand(
      Tables.documents(s, d).select(
        TextFns.langId(col("text")).as("pred"), col("lang")),
      "pred", "lang")

  /** B-cubed precision/recall/F1 of the same langid-vs-truth pairing
    * ([[graft.ops.Eval.bcubed]], Bagga & Baldwin 1998): per-ITEM
    * agreement averaging — the cluster-evaluation view that punishes
    * shattering a big cluster in proportion to its size (Amigó et
    * al. 2009's recommended primary). Two-floor exact ppm.
    */
  val q336_bcubed: Q = (s, d) =>
    graft.ops.Eval.bcubed(
      Tables.documents(s, d).select(
        TextFns.langId(col("text")).as("pred"), col("lang")),
      "pred", "lang")

  /** Homogeneity/completeness/V-measure of the langid partition
    * ([[graft.ops.Eval.vMeasure]], Rosenberg & Hirschberg 2007):
    * the entropy lens completing the agreement trio (q335 pairs,
    * q336 items, q337 information) — every entropy a ratio log
    * through the ONE shared Mitchell e256 emitter.
    */
  val q337_vmeasure: Q = (s, d) =>
    graft.ops.Eval.vMeasure(
      Tables.documents(s, d).select(
        TextFns.langId(col("text")).as("pred"), col("lang")),
      "pred", "lang")

  /** MinHash-LSH parameter planner ([[graft.dedup.Dedup.lshPlan]],
    * MMDS §3.4): the analytic (bands, rows) S-curve grid integrated
    * against THIS corpus's exact ≥0.5-Jaccard pair distribution
    * (q143's complete prefix-filtered surface at τ=500) — expected
    * recall and the p=½ threshold location per config, priced
    * without building a single bucket. The design-time complement
    * of q248's empirical one-config eval; per-bin collision
    * constants are single-source Scala literals inlined into both
    * engines.
    */
  val q338_lsh_plan: Q = (s, d) =>
    Dedup.lshPlan(
      Dedup.setSimJoin(Tables.documents(s, d), "doc_id",
        TextFns.shingles(col("text"), 3), tauX1000 = 500,
        itemKey = HashFns.hash61),
      "jaccard_x1000")
      .orderBy("bands", "rows_per_band")

  /** MP4 / ISO-BMFF container probe ([[graft.multimodal.Mp4Probe]]):
    * the video analog of q115's image-header probe — box-tree walk
    * extracting brand, movie timescale/duration and per-track
    * handler/codec/dimensions, the inventory stage a video corpus
    * runs before any decode. Assets are deterministic closed-form
    * functions of doc_id (the q192 CBOR discipline, both v0 and
    * 64-bit v1 box layouts on the oracle path), so the twin restates
    * every probed field and a hash match certifies the whole walk.
    *
    * On the scalar-UDF choice (applies to every container probe,
    * q339–q349, and answers the r14 verdict's consistency note vs the
    * codegen'd `ImageDims` expression): these walkers are stateful
    * TOTAL parsers — variable-length framing, nested boxes/vints,
    * error capture — with no vectorizable or expression-tree form;
    * the per-row call amortizes over kilobyte blobs (the UDF body is
    * thousands of byte reads per invocation, so invocation overhead
    * is noise); and the surrounding plan stays whole-stage-codegen on
    * both sides of the call. A `mapPartitions` seam would buy nothing
    * (same per-row kernel, but it would break column pruning above
    * the call), and a codegen'd Expression of a multi-hundred-line
    * parser would only move the same JVM code behind `doGenCode`.
    * Map-only, O(bytes)/blob either way.
    */
  val q339_mp4_probe: Q = (s, d) => {
    import graft.multimodal.Mp4Probe
    val synth = udf((id: Long) => Mp4Probe.testAsset(id))
    val dec = udf((b: Array[Byte]) => {
      val m = Mp4Probe.probe(b)
      if (m == null) null
      else (m.majorBrand, m.minorVersion, m.timescale, m.durationMs,
        m.tracks.size.toLong,
        m.tracks.map(t => (t.trackId, t.handler, t.codec, t.width,
          t.height)))
    })
    Tables.documents(s, d)
      .select(col("doc_id"), dec(synth(col("doc_id"))).as("m"))
      .select(col("doc_id"), col("m.*"))
      .toDF("doc_id", "major_brand", "minor_version", "movie_timescale",
        "duration_ms", "n_tracks", "tracks")
      .select(col("doc_id"), col("major_brand"), col("minor_version"),
        col("movie_timescale"), col("duration_ms"), col("n_tracks"),
        explode(col("tracks")).as("t"))
      .select(col("doc_id"), col("major_brand"), col("minor_version"),
        col("movie_timescale"), col("duration_ms"), col("n_tracks"),
        col("t._1").as("track_id"), col("t._2").as("handler"),
        col("t._3").as("codec"), col("t._4").as("width"),
        col("t._5").as("height"))
      .orderBy("doc_id", "track_id")
  }

  /** Matroska / WebM EBML probe ([[graft.multimodal.EbmlProbe]],
    * RFC 8794): the vint-encoded half of the web-video inventory
    * beside q339's fixed-layout ISO-BMFF walk — DocType, timestamp
    * scale, duration, per-track type/codec/dimensions. Closed-form
    * synthetic assets (the q192/q339 discipline); durations are
    * integer-valued float64 ticks so the floor-to-ms is exact.
    */
  val q340_webm_probe: Q = (s, d) => {
    import graft.multimodal.EbmlProbe
    val synth = udf((id: Long) => EbmlProbe.testAsset(id))
    val dec = udf((b: Array[Byte]) => {
      val m = EbmlProbe.probe(b)
      if (m == null) null
      else (m.docType, m.timestampScaleNs, m.durationMs,
        m.tracks.size.toLong,
        m.tracks.map(t => (t.number, t.trackType, t.codec, t.width,
          t.height)))
    })
    Tables.documents(s, d)
      .select(col("doc_id"), dec(synth(col("doc_id"))).as("m"))
      .select(col("doc_id"), col("m.*"))
      .toDF("doc_id", "doc_type", "timestamp_scale_ns", "duration_ms",
        "n_tracks", "tracks")
      .select(col("doc_id"), col("doc_type"), col("timestamp_scale_ns"),
        col("duration_ms"), col("n_tracks"),
        explode(col("tracks")).as("t"))
      .select(col("doc_id"), col("doc_type"), col("timestamp_scale_ns"),
        col("duration_ms"), col("n_tracks"),
        col("t._1").as("track_number"), col("t._2").as("track_type"),
        col("t._3").as("codec"), col("t._4").as("width"),
        col("t._5").as("height"))
      .orderBy("doc_id", "track_number")
  }

  /** Offline best-single-changepoint per event type over the daily
    * count series ([[graft.ops.Funnel.bestChangepoint]]): binary
    * segmentation's first split — where q197's CUSUM raises an
    * ONLINE alarm, this names the day the level shifted after the
    * fact, with exact ×1000 between-segment SSE gain and both
    * segment means, argmax with earliest-day tie-break. All integer
    * through DECIMAL(38); the candidate table is the span-bounded
    * zero-filled day grid.
    */
  val q341_changepoint: Q = (s, d) =>
    graft.ops.Funnel.bestChangepoint(Tables.events(s, d),
        "event_type", "ts")
      .orderBy("event_type")

  /** FLAC STREAMINFO probe ([[graft.multimodal.AudioProbes]]): the
    * lossless-audio inventory beside q116's WAV RIFF probe — block
    * walk + 20/3/5/36-bit STREAMINFO unpack giving rate, channels,
    * bit depth, total samples and exact duration. Closed-form
    * synthetic assets (the q339 discipline), so the twin restates
    * every probed field and a hash match certifies the walk
    * including the last-block flag across 1/2/3-block layouts.
    */
  val q342_flac_probe: Q = (s, d) => {
    import graft.multimodal.AudioProbes
    val synth = udf((id: Long) => AudioProbes.flacTestAsset(id))
    val dec = udf((b: Array[Byte]) => {
      val m = AudioProbes.probeFlac(b)
      if (m == null) null
      else (m.minBlockSize, m.maxBlockSize, m.sampleRate, m.channels,
        m.bitsPerSample, m.totalSamples, m.nMetadataBlocks, m.durationMs)
    })
    Tables.documents(s, d)
      .select(col("doc_id"), dec(synth(col("doc_id"))).as("m"))
      .select(col("doc_id"), col("m.*"))
      .toDF("doc_id", "min_block", "max_block", "sample_rate",
        "channels", "bits_per_sample", "total_samples", "n_blocks",
        "duration_ms")
      .orderBy("doc_id")
  }

  /** ID3v2 + MPEG-frame MP3 probe
    * ([[graft.multimodal.AudioProbes]]): tag version, syncsafe tag
    * size, frame count (v2.4 syncsafe AND v2.3 big-endian frame-size
    * codecs both on the oracle path), then the first MPEG audio
    * frame header decoded through the REAL Layer-III bitrate and
    * sample-rate tables, with the constant-bitrate duration
    * estimate. Closed-form assets; the twin restates the tables as
    * CASE arms, so a hash match certifies header parse + table
    * lookups end to end.
    */
  val q343_mp3_probe: Q = (s, d) => {
    import graft.multimodal.AudioProbes
    val synth = udf((id: Long) => AudioProbes.mp3TestAsset(id))
    val dec = udf((b: Array[Byte]) => {
      val m = AudioProbes.probeMp3(b)
      if (m == null) null
      else (m.id3Version, m.tagSize, m.nId3Frames, m.mpegVersion,
        m.layer, m.bitrateKbps, m.sampleRate, m.channelMode,
        m.audioBytes, m.durationMs)
    })
    Tables.documents(s, d)
      .select(col("doc_id"), dec(synth(col("doc_id"))).as("m"))
      .select(col("doc_id"), col("m.*"))
      .toDF("doc_id", "id3_version", "tag_size", "n_id3_frames",
        "mpeg_version", "layer", "bitrate_kbps", "sample_rate",
        "channel_mode", "audio_bytes", "duration_ms")
      .orderBy("doc_id")
  }

  /** Ogg container probe ([[graft.multimodal.AudioProbes]]): the
    * page-structured third of the audio-container inventory beside
    * q342's block-chained FLAC and q343's frame-chained MP3 — RFC
    * 3533 page walk (lacing-value lengths, BOS/EOS flags, granule
    * positions) + the BOS identification packet under BOTH codecs
    * (`\x01vorbis` and `OpusHead`), with the exact final-granule
    * duration (Opus granules tick at 48 kHz minus pre-skip). Closed
    * -form assets; data pages lace ≥255-byte bodies so the
    * multi-segment path is on the oracle path.
    */
  val q344_ogg_probe: Q = (s, d) => {
    import graft.multimodal.AudioProbes
    val synth = udf((id: Long) => AudioProbes.oggTestAsset(id))
    val dec = udf((b: Array[Byte]) => {
      val m = AudioProbes.probeOgg(b)
      if (m == null) null
      else (m.codec, m.serial, m.channels, m.sampleRate, m.preSkip,
        m.nPages, m.lastGranule, m.durationMs)
    })
    Tables.documents(s, d)
      .select(col("doc_id"), dec(synth(col("doc_id"))).as("m"))
      .select(col("doc_id"), col("m.*"))
      .toDF("doc_id", "codec", "serial", "channels", "sample_rate",
        "pre_skip", "n_pages", "last_granule", "duration_ms")
      .orderBy("doc_id")
  }

  /** Personalized-PageRank seed expansion
    * ([[graft.ops.TextStats.seedExpansion]]): q152's word graph with
    * the damping teleport landing ONLY on the 10 highest-degree
    * words — stationary mass measures proximity to the seed set, the
    * graph-walk way to grow a trusted vocabulary (the curation
    * complement to q134's hard negatives). Same 1e-12 fixed point,
    * 5 iterations, every floor division mirrored in the twin.
    */
  val q345_seed_expansion: Q = (s, d) =>
    TextStats.seedExpansion(Tables.documents(s, d), "doc_id", "text",
      iters = 5, seedK = 10, k = 20)

  /** TIFF IFD probe ([[graft.multimodal.ContainerProbes]]): the
    * still-image container walker the q115 header probe lacks — TIFF
    * 6.0 IFD entries under BOTH byte orders ("II" even ids, "MM"
    * odd), inline SHORT/LONG values AND the offset-followed count-3
    * BitsPerSample array (the multi-sample arm), plus the IFD-chain
    * page count (half-size thumbnail IFD on ids ≡ 0 mod 4). Closed
    * -form assets (the q339 discipline).
    */
  val q347_tiff_probe: Q = (s, d) => {
    import graft.multimodal.ContainerProbes
    val synth = udf((id: Long) => ContainerProbes.tiffTestAsset(id))
    val dec = udf((b: Array[Byte]) => {
      val m = ContainerProbes.probeTiff(b)
      if (m == null) null
      else (m.byteOrder, m.width, m.height, m.bitsPerSample,
        m.compression, m.photometric, m.samplesPerPixel, m.orientation,
        m.nEntries, m.nIfds)
    })
    Tables.documents(s, d)
      .select(col("doc_id"), dec(synth(col("doc_id"))).as("m"))
      .select(col("doc_id"), col("m.*"))
      .toDF("doc_id", "byte_order", "width", "height", "bits_per_sample",
        "compression", "photometric", "samples_per_pixel", "orientation",
        "n_entries", "n_ifds")
      .orderBy("doc_id")
  }

  /** RIFF-AVI probe ([[graft.multimodal.ContainerProbes]]): the
    * legacy-video inventory beside q339's ISO-BMFF and q340's EBML —
    * nested LIST walk (hdrl → avih main header, per-stream strl →
    * strh), first video codec fourcc, audio presence, and the exact
    * integral duration off the 24/25/30/60 fps microseconds-per-frame
    * literal table (restated in the twin, so the truncation IS the
    * contract). Closed-form assets.
    */
  val q348_avi_probe: Q = (s, d) => {
    import graft.multimodal.ContainerProbes
    val synth = udf((id: Long) => ContainerProbes.aviTestAsset(id))
    val dec = udf((b: Array[Byte]) => {
      val m = ContainerProbes.probeAvi(b)
      if (m == null) null
      else (m.usPerFrame, m.totalFrames, m.width, m.height, m.nStreams,
        m.videoCodec, m.hasAudio, m.fpsMilli, m.durationMs)
    })
    Tables.documents(s, d)
      .select(col("doc_id"), dec(synth(col("doc_id"))).as("m"))
      .select(col("doc_id"), col("m.*"))
      .toDF("doc_id", "us_per_frame", "total_frames", "width", "height",
        "n_streams", "video_codec", "has_audio", "fps_milli",
        "duration_ms")
      .orderBy("doc_id")
  }

  /** Mixed-media inventory rollup
    * ([[graft.multimodal.ContainerProbes.sniffFormat]] /
    * `inventoryDurationMs`): the operator a 100 TB media corpus runs
    * FIRST — one magic-byte sniff routes each blob to the right
    * container walker (q339 MP4, q340 WebM, q342 FLAC, q343 MP3,
    * q344 Ogg, q347 TIFF, q348 AVI), no probe ever parses a foreign
    * format, and the per-format playback-hours rollup prices the
    * decode fleet. The mixed corpus interleaves all seven families
    * by doc_id; a hash match certifies sniff + dispatch + every
    * family's duration arithmetic in one report.
    */
  val q349_media_inventory: Q = (s, d) => {
    import graft.multimodal.{AudioProbes, ContainerProbes, EbmlProbe, Mp4Probe}
    val synth = udf((id: Long) => (id % 7) match {
      case 0 => Mp4Probe.testAsset(id)
      case 1 => EbmlProbe.testAsset(id)
      case 2 => AudioProbes.flacTestAsset(id)
      case 3 => AudioProbes.mp3TestAsset(id)
      case 4 => AudioProbes.oggTestAsset(id)
      case 5 => ContainerProbes.tiffTestAsset(id)
      case _ => ContainerProbes.aviTestAsset(id)
    })
    val dec = udf((b: Array[Byte]) => ContainerProbes.inventoryDurationMs(b))
    Tables.documents(s, d)
      .select(col("doc_id"), dec(synth(col("doc_id"))).as("m"))
      .select(col("doc_id"), col("m._1").as("format"),
        col("m._2").as("duration_ms"))
      .groupBy("format")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("duration_ms") >= 0, 1L).otherwise(0L))
          .as("n_with_duration"),
        sum(when(col("duration_ms") >= 0, col("duration_ms"))
          .otherwise(0L)).as("total_duration_ms"),
        max(col("duration_ms")).as("max_duration_ms"))
      .orderBy("format")
  }

  /** End-to-end curation verdict
    * ([[graft.ops.TextStats.curationVerdict]]): the keep/drop
    * decision table a pipeline owner ships — q119's five Gopher
    * gates + PII presence (planted on ids ≡ 3 mod 7, the q64
    * fixture) + q130's blocklist cap + exact-dup loser marking
    * (q24's min-id convention), each failure a bit in `reason_mask`
    * so the drop ledger is queryable by reason. Four id-keyed joins
    * of slim flag tables; only the dup gate shuffles fingerprints.
    */
  val q350_curation_verdict: Q = (s, d) => {
    val aug = Tables.documents(s, d).withColumn("text",
      when(pmod(col("doc_id"), lit(7L)) === 3L,
        concat(col("text"), lit(" contact: user"), col("doc_id"),
          lit("@test.org call 555-867-5309 ssn 123-45-6789")))
        .otherwise(col("text")))
    TextStats.curationVerdict(aug, "doc_id", "text", carry = Seq("lang"),
        minWords = 10, maxWords = 10000, stopMin = 1,
        blockTerms = Seq("slow", "big", "the"), maxBlockHits = 2)
      .orderBy("doc_id")
  }

  /** Survey raking of the lang × source grid
    * ([[graft.ops.Mixture.rake]], Deming–Stephan IPF): per-cell ppm
    * weights that balance BOTH margins at once — the cross-margin
    * mixing step q138's one-axis temperature reweight cannot do.
    * Two unrolled row+col sweeps, every truncating divide mirrored
    * in the twin; the corpus is touched once (the grid reduction).
    */
  val q351_raking: Q = (s, d) =>
    graft.ops.Mixture.rake(Tables.documents(s, d), "lang", "source",
        iters = 2)
      .orderBy("lang", "source")

  /** Raked sampling plan ([[graft.ops.Mixture.rakedSample]]): q351's
    * IPF weights executed as a deterministic manifest — full epochs
    * for weights above 10⁶, a hash-gated fractional pass for the
    * remainder (the q99/q177 reproducible-membership convention) —
    * per (lang, source) the n_kept a training-data loader consumes.
    * One bounded-grid rake + one gated corpus scan with map-side
    * partial counts.
    */
  val q352_raked_sample: Q = (s, d) =>
    graft.ops.Mixture.rakedSample(Tables.documents(s, d), "lang",
        "source", "doc_id", iters = 2)
      .orderBy("lang", "source")

  /** HTML main-content extraction ([[graft.ops.Html]]) — the
    * standard first stage of a web-scale pipeline the rest of the
    * text catalog sits downstream of: jusText/Kohlschütter-class
    * boilerplate removal (script/style/comment strip, block
    * segmentation, entity decode, per-block link-density gate at
    * 50 %) over closed-form synthesized pages (the q339 asset
    * discipline: [[graft.ops.Html.testAsset]] wraps each document's
    * text in a deterministic page with nav/promo/footer boilerplate,
    * a hostile script/comment head, a planted hex entity and a
    * planted inline anchor — so the DuckDB twin states the expected
    * extraction in pure string arithmetic). Map-only, no shuffle;
    * O(html bytes) per doc.
    */
  val q353_html_extract: Q = (s, d) =>
    graft.ops.Html.extract(
        graft.ops.Html.withTestAssets(Tables.documents(s, d),
          "doc_id", "text"),
        "html", maxLinkPpm = 500000L)
      .select(col("doc_id"), col("main_text"), col("n_blocks_kept"),
        col("n_blocks_dropped"), col("link_density_ppm"))
      .orderBy("doc_id")

  /** Curation verdict over EXTRACTED web content — q350's end-to-end
    * keep/drop gate composed downstream of q353's HTML extraction,
    * exactly the shape a real crawl pipeline ships (extract → gate):
    * the q350 PII plant is applied to the raw text, the page is
    * synthesized around it, [[graft.ops.Html.extract]] recovers the
    * main text (now '\n'-chunked — the tokenizer and both PII/md5
    * gates are whitespace-agnostic on both engines), and
    * [[graft.ops.TextStats.curationVerdict]] runs with the q350
    * thresholds. A wrong extraction anywhere (entity decode, anchor
    * retention, boilerplate drop) breaks the md5 dup gate or the
    * token gates and the hash goes red — the composition certifies
    * the extractor through the verdict.
    */
  val q354_curated_web: Q = (s, d) => {
    val aug = Tables.documents(s, d).withColumn("text",
      when(pmod(col("doc_id"), lit(7L)) === 3L,
        concat(col("text"), lit(" contact: user"), col("doc_id"),
          lit("@test.org call 555-867-5309 ssn 123-45-6789")))
        .otherwise(col("text")))
    val extracted = graft.ops.Html.extract(
      graft.ops.Html.withTestAssets(aug, "doc_id", "text"),
      "html", maxLinkPpm = 500000L)
    TextStats.curationVerdict(extracted, "doc_id", "main_text",
        carry = Seq("lang"), minWords = 10, maxWords = 10000,
        stopMin = 1, blockTerms = Seq("slow", "big", "the"),
        maxBlockHits = 2)
      .orderBy("doc_id")
  }

  /** Outlink edge extraction ([[graft.ops.Html.outlinks]]) — the
    * crawl-graph side of q353: every anchor of every page in page
    * order with its href, normalized anchor text, and a `from_main`
    * flag from the SAME link-density boilerplate classification the
    * extractor uses (a crawl frontier consumes all links; a content
    * link graph filters `from_main`). Over the q353 fixture pages
    * the full edge list is closed-form — nav/promo/footer edges plus
    * the planted inline anchor — so the twin enumerates it with
    * per-row `range` unnests and the hash certifies href capture,
    * anchor-text normalization, ordering AND the block
    * classification in one row set.
    */
  val q355_html_outlinks: Q = (s, d) =>
    graft.ops.Html.outlinks(
        graft.ops.Html.withTestAssets(Tables.documents(s, d),
          "doc_id", "text"),
        "doc_id", "html", maxLinkPpm = 500000L)
      .orderBy("doc_id", "link_pos")

  /** URL canonicalization + URL-level dedup ([[graft.ops.Url]]) —
    * the crawl-side sibling of the content dedup family: RFC 3986 §6
    * scheme/host lowercase, default-port strip, fragment drop,
    * tracking-param strip + bytewise query sort, slash-run collapse
    * and trailing-slash strip, then ONE canonical-key groupBy (the
    * q24 min-id convention) reporting variant and spelling counts.
    * Four deterministic messy-variant arms per doc
    * ([[graft.ops.Url.testUrl]]) all collapse to the same canonical
    * form the twin states directly.
    */
  val q356_url_dedup: Q = (s, d) =>
    graft.ops.Url.dedupReport(
        graft.ops.Url.withTestUrls(Tables.documents(s, d), "doc_id"),
        "doc_id", "url")
      .orderBy("canonical_url")

  /** CCNet-style cross-corpus line dedup
    * ([[graft.ops.TextStats.lineDedup]], Wenzek et al. 2020 §3.1)
    * composed downstream of q353's extraction — the boilerplate that
    * survives tag-level extraction repeats VERBATIM as whole lines
    * across pages, so lines are counted by corpus-wide document
    * frequency and every line in more than `maxDocFreq` docs drops
    * from every doc. Over the fixture pages the lines are the
    * 12-token chunks, so the planted exact-dup documents (the q24
    * corpus) share ALL their lines and the twin restates the whole
    * computation on the chunked closed form.
    */
  val q357_line_dedup: Q = (s, d) => {
    val ex = graft.ops.Html.extract(
      graft.ops.Html.withTestAssets(Tables.documents(s, d),
        "doc_id", "text"),
      "html", maxLinkPpm = 500000L)
    TextStats.lineDedup(ex, "doc_id", "main_text", maxDocFreq = 2L)
      .orderBy("doc_id")
  }

  /** WARC ingestion → extraction, the FULL web front door
    * ([[graft.formats.Warc]], ISO 28500): each doc's fixture buffer
    * is a 3-record WARC capture (request + response + metadata;
    * odd ids as concatenated per-record gzip members — the Common
    * Crawl layout — even ids plain), the parser frames records,
    * skips the non-response types, splits the HTTP message (status,
    * Content-Type, body), and q353's extractor recovers the main
    * text from the body. One hash certifies gzip-member inflation,
    * WARC framing, type dispatch, HTTP splitting AND extraction —
    * the chain a 100 TB crawl actually runs before any text gate.
    */
  val q358_warc_extract: Q = (s, d) => {
    val parse = udf((b: Array[Byte]) => graft.formats.Warc.parseAll(b))
    val resp = graft.formats.Warc
      .withTestAssets(Tables.documents(s, d), "doc_id", "text")
      .select(col("doc_id"), explode(parse(col("warc"))).as("r"))
      .where(col("r.warcType") === "response")
      .select(col("doc_id"), col("r.targetUri").as("target_uri"),
        col("r.httpStatus").as("http_status"),
        col("r.httpContentType").as("content_type"),
        col("r.body").as("body"))
    graft.ops.Html.extract(resp, "body", maxLinkPpm = 500000L)
      .select(col("doc_id"), col("target_uri"), col("http_status"),
        col("content_type"), col("main_text"))
      .orderBy("doc_id")
  }

  /** 5-fold cross-validated NB confidence AUC
    * ([[graft.ops.Eval.cvAuc]]): the q256 single-split ranking gate
    * with an error bar — per-fold AUC over deterministic id-hash
    * folds plus the CV mean/σ a methodologist would demand before
    * trusting the gate on a different shard.
    */
  val q320_cv_auc: Q = (s, d) =>
    graft.ops.Eval.cvAuc(Tables.documents(s, d), "lang", "doc_id",
        "text")
      .orderBy("fold")

  /** One-way ANOVA of order value by priority
    * ([[graft.ops.Eval.anovaOneWay]]): F + η² — does priority
    * explain spend at all, and how much (the k-group lens beside
    * q244's two-arm test). Floored ×10⁶ sums of squares with the
    * exact SSB+SSW=SST identity, two-step integer F.
    */
  val q315_anova: Q = (s, d) =>
    graft.ops.Eval.anovaOneWay(Tables.orders(s, d), "o_orderpriority",
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"))

  /** Durbin–Watson residual autocorrelation of the q242 daily OLS
    * trend per event type ([[graft.ops.Funnel.durbinWatson]], Durbin
    * & Watson 1950): DW ≪ 2 flags structure the linear fit missed
    * (weekly seasonality, regime shifts) that r² can't see. Exact
    * ×10⁶ integer residuals, ×1000 out.
    */
  val q316_durbin_watson: Q = (s, d) =>
    graft.ops.Funnel.durbinWatson(Tables.events(s, d), "event_type", "ts")
      .orderBy("event_type")

  /** Top principal component by integer power iteration
    * ([[graft.sim.Similarity.pcaTopComponent]]): the anisotropy lens
    * on the embedding corpus — explained-variance share of the
    * dominant axis and its top loading coordinates, float-free
    * (quantized co-moment grid, ×2²⁰ fixed-point matvecs, exact
    * Rayleigh ppm).
    */
  val q285_pca_top: Q = (s, d) =>
    Similarity.pcaTopComponent(Scale.fanOut(Tables.embeddings(s, d)),
        "vec_id", "embedding")
      .orderBy("n_vecs")

  val q239_source_outliers: Q = (s, d) =>
    Similarity.sourceOutliers(Scale.fanOut(Tables.embeddings(s, d)),
        "vec_id", "embedding",
        Tables.documents(s, d), "doc_id", "source")
      .orderBy("source", "rank")

  /** Pairwise vocabulary Jaccard + directional containment between
    * sources ([[graft.ops.TextStats.vocabJaccard]]): the set-overlap
    * complement to q185's distributional JSD — exact ppm, one
    * distinct (source, word) reduction, (sources²)-bounded output.
    */
  val q238_vocab_jaccard: Q = (s, d) =>
    TextStats.vocabJaccard(Tables.documents(s, d), "source", "text")
      .orderBy("group_a", "group_b")

  /** Auto-labels for embedding clusters
    * ([[graft.sim.Similarity.clusterLabels]]): per q79/q135 IVF cell
    * the top-3 words whose in-cell document frequency most exceeds
    * their corpus rate (exact lift ppm, min-df 3) — "what is this
    * cluster about". Vocab-bounded scoring, bounded-heap top-k.
    */
  val q237_cluster_labels: Q = (s, d) =>
    Similarity.clusterLabels(Scale.fanOut(Tables.embeddings(s, d)),
        "vec_id", "embedding",
        Tables.documents(s, d), "doc_id", "text")
      .orderBy("cell", "rank")

  /** Interpolated Kneser–Ney bigram surprisal per doc
    * ([[graft.ops.TextStats.knSurprisal]], Kneser & Ney 1995): the
    * canonical smoothing with d = 3/4 rational, continuation counts
    * and all — the upgrade over q106's add-one LM, same integer
    * Mitchell-log surface and the same distributed shape.
    */
  val q236_kn_surprisal: Q = (s, d) =>
    TextStats.knSurprisal(Tables.documents(s, d), "doc_id", "text",
        Seq("lang"))
      .orderBy("doc_id")

  /** Exact winsorized value statistics per event type
    * ([[graft.ops.Profile.winsorizedStats]]): clip at the exact
    * p05/p95 ceil-rank cents and recompute the mean — the robust
    * mean one wild row cannot drag. Rank cumsum over DISTINCT cent
    * values (value-domain-bounded), never a corpus sort.
    */
  val q235_winsorized_stats: Q = (s, d) =>
    graft.ops.Profile.winsorizedStats(Tables.events(s, d),
        "event_type", "value")
      .orderBy("event_type")

  /** Spectral tone detection on really-decoded audio
    * ([[graft.multimodal.Multimodal.wavToneDetect]]): per doc a
    * square-wave WAV is synthesized (period 4·2^(id%4) samples),
    * decoded through the real RIFF/PCM path, and the [[graft.multimodal.Dft]]
    * integer-twiddle 64-point DFT reports the dominant bin — which
    * the twin predicts from the closed-form samples and the SAME
    * shared ×10⁶ twiddle literals. A hash match proves bytes →
    * samples → the right spectral peak, with no float in the loop.
    */
  val q234_tone_detect: Q = (s, d) => {
    val synth = udf((id: Long) => graft.multimodal.WavCodec.testTone(
      id, 80, 8000))
    val media = Tables.documents(s, d)
      .select(col("doc_id"), synth(col("doc_id")).as("wav"))
    graft.multimodal.Multimodal.wavToneDetect(media, "doc_id", "wav")
      .select(col("id").as("doc_id"), col("detected_bin"),
        col("e_top_e12"), col("dominance_x1000"))
      .orderBy("doc_id")
  }

  /** Monthly revenue trend with MoM / YoY growth
    * ([[graft.ops.Funnel.revenueTrend]]): exact DECIMAL cents per
    * calendar month over the zero-filled month grid, lag-1 and
    * lag-12 per-mille growth (null against a zero base). One month
    * reduction; windows over the span-bounded grid.
    */
  val q233_revenue_trend: Q = (s, d) =>
    graft.ops.Funnel.revenueTrend(Tables.orders(s, d),
        "o_orderdate", "o_totalprice")
      .orderBy("month")

  /** Per-user feature profile ([[graft.ops.Funnel.userProfile]]):
    * volume, recency span, active days and the mode event-type /
    * mode hour features — the feature-store base table; modes ride
    * the bounded-heap top-1, never a per-user sort.
    */
  val q232_user_profile: Q = (s, d) =>
    graft.ops.Funnel.userProfile(Tables.events(s, d),
        "user_id", "event_type", "ts")
      .orderBy("user_id")

  /** Deflate compression-ratio repetitiveness screen
    * ([[graft.ops.TextStats.compressionRatio]]): boilerplate
    * deflates far below natural text — one number per doc, map-only
    * codegen'd kernel. Rows-only (no zlib in the oracle engine);
    * certified by `TextStatsSpec`'s known-plaintext cases.
    */
  val q231_compression_ratio: Q = (s, d) =>
    TextStats.compressionRatio(Tables.documents(s, d), "doc_id", "text")
      .orderBy("id")

  /** Top-20 session entry paths ([[graft.ops.Funnel.sessionPaths]]):
    * q141's inactivity-gap sessions labeled by their first three
    * event types (`a>b>c`), counted with per-mille share — the
    * Sankey-source "how do sessions start" report.
    */
  val q230_session_paths: Q = (s, d) =>
    graft.ops.Funnel.sessionPaths(Tables.events(s, d),
      "user_id", "event_type", "ts", "event_id")

  /** Lorenz revenue-concentration curve over customers' order totals
    * ([[graft.ops.Funnel.lorenzCurve]]): per-mille (customer share,
    * revenue share) points per $10k value bucket — the Pareto
    * readout; one key reduction, then the q92-class bounded-bucket
    * cumsum.
    */
  val q229_lorenz_curve: Q = (s, d) =>
    graft.ops.Funnel.lorenzCurve(Tables.orders(s, d),
        "o_custkey", "o_totalprice")
      .orderBy("bucket")

  /** Last-touch attribution report
    * ([[graft.ops.Funnel.lastTouchAttribution]]): every purchase
    * attributed to the user's most recent click/view within a 1-hour
    * TTL, rolled up per channel with conversion share and exact
    * DECIMAL revenue; stale or missing touches land in `organic`.
    * q47's as-of composition (one tagged union + running
    * last(ignoreNulls) window) applied to the marketing question.
    */
  val q228_attribution: Q = (s, d) =>
    graft.ops.Funnel.lastTouchAttribution(Tables.events(s, d),
        "user_id", "event_type", "ts", "event_id", "value",
        touches = Seq("click", "view"), conversion = "purchase")
      .orderBy("channel")

  /** Pairwise two-sample KS statistic between sources' doc-length
    * distributions ([[graft.ops.Profile.ksDrift]]) — the drift
    * family's classical fourth lens after PSI (q155), W1 (q201) and
    * JSD (q185): the worst single CDF gap per source pair, exact
    * ppm, with the bin where it lands. (sources² × bins)-bounded.
    */
  val q227_ks_drift: Q = (s, d) =>
    graft.ops.Profile.ksDrift(Tables.documents(s, d), "source",
        "n_chars", binWidth = 50)
      .orderBy("group_a", "group_b")

  /** Hourly-arrival autocorrelation per event type at lags 1..26
    * ([[graft.ops.Funnel.autocorrelation]]): r_k = c_k/c_0 in exact
    * ppm — lag 1 reads persistence, the lag-24 row reads the diurnal
    * cycle; q200's self-pair complement on the same shifted-hour
    * equi-join shape.
    */
  val q226_acf: Q = (s, d) =>
    graft.ops.Funnel.autocorrelation(Tables.events(s, d), "event_type", "ts")
      .orderBy("event_type", "lag")

  /** Per-source dataset card ([[graft.ops.Profile.datasetCard]],
    * the Datasheets-for-Datasets release summary): volume, token
    * and vocabulary counts, exact-dup rate, language spread — four
    * map-side-partial reductions broadcast-joined on the bounded
    * source key, no multi-countDistinct Expand.
    */
  val q225_dataset_card: Q = (s, d) =>
    graft.ops.Profile.datasetCard(Tables.documents(s, d),
        "source", "text", "lang", "n_chars")
      .orderBy("source")

  /** q156's check list — SQL predicate strings parseable by BOTH
    * Spark and DuckDB, so the oracle twin evaluates the literal same
    * text and the surfaces cannot drift.
    */
  val LineitemChecks: Seq[(String, String)] = Seq(
    "qty_in_range" -> "l_quantity >= 1 AND l_quantity <= 50",
    "price_positive" -> "l_extendedprice > 0",
    "discount_range" ->
      "l_discount >= 0 AND l_discount <= CAST(0.1 AS DOUBLE)",
    "returnflag_known" -> "l_returnflag IN ('A', 'N', 'R')",
    "linestatus_known" -> "l_linestatus IN ('O', 'F')",
    "shipdate_range" ->
      ("l_shipdate >= TIMESTAMP '1992-01-01 00:00:00' " +
        "AND l_shipdate <= TIMESTAMP '1998-12-31 23:59:59'"))

  /** All registered queries. */
  val all: Map[String, Q] = Map(
    "q01_scan_filter_project" -> q01_scan_filter_project,
    "q02_pricing_summary" -> q02_pricing_summary,
    "q03_join_broadcast" -> q03_join_broadcast,
    "q04_join_shuffle_agg" -> q04_join_shuffle_agg,
    "q05_window_topn" -> q05_window_topn,
    "q06_sort_limit" -> q06_sort_limit,
    "q07_except" -> q07_except,
    "q08_intersect" -> q08_intersect,
    "q09_union_all" -> q09_union_all,
    "q10_anti_join" -> q10_anti_join,
    "q11_semi_join" -> q11_semi_join,
    "q12_having" -> q12_having,
    "q13_case_when" -> q13_case_when,
    "q14_distinct" -> q14_distinct,
    "q15_transform_chain" -> q15_transform_chain,
    "q16_json_extract" -> q16_json_extract,
    "q17_result_split" -> q17_result_split,
    "q18_window_running" -> q18_window_running,
    "q19_time_bucket_agg" -> q19_time_bucket_agg,
    "q20_dedup_latest" -> q20_dedup_latest,
    "q21_multi_route" -> q21_multi_route,
    "q22_token_count" -> q22_token_count,
    "q23_fingerprint" -> q23_fingerprint,
    "q24_exact_dedup" -> q24_exact_dedup,
    "q25_text_quality" -> q25_text_quality,
    "q26_lang_distribution" -> q26_lang_distribution,
    "q27_word_jaccard" -> q27_word_jaccard,
    "q28_cosine_topk" -> q28_cosine_topk,
    "q29_minhash_buckets" -> q29_minhash_buckets,
    "q30_simhash" -> q30_simhash,
    "q31_ann_lsh" -> q31_ann_lsh,
    "q32_langid" -> q32_langid,
    "q33_quality_score" -> q33_quality_score,
    "q34_near_dup_pairs" -> q34_near_dup_pairs,
    "q35_multimodal_probe" -> q35_multimodal_probe,
    "q36_media_features" -> q36_media_features,
    "q37_pipeline_e2e" -> q37_pipeline_e2e,
    "q38_rollup" -> q38_rollup,
    "q39_cube" -> q39_cube,
    "q40_grouping_sets" -> q40_grouping_sets,
    "q41_pivot" -> q41_pivot,
    "q42_cross_join" -> q42_cross_join,
    "q43_string_funcs" -> q43_string_funcs,
    "q44_date_funcs" -> q44_date_funcs,
    "q45_null_funcs" -> q45_null_funcs,
    "q46_agg_stats" -> q46_agg_stats,
    "q47_asof_join" -> q47_asof_join,
    "q48_topk_aggregate" -> q48_topk_aggregate,
    "q49_embedding_near_dup" -> q49_embedding_near_dup,
    "q50_bpe_token_count" -> q50_bpe_token_count,
    "q51_asof_custom" -> q51_asof_custom,
    "q52_exists_subquery" -> q52_exists_subquery,
    "q53_scalar_subquery" -> q53_scalar_subquery,
    "q54_posexplode" -> q54_posexplode,
    "q55_percentiles" -> q55_percentiles,
    "q56_regexp_extract" -> q56_regexp_extract,
    "q57_array_funcs" -> q57_array_funcs,
    "q58_hash_sample" -> q58_hash_sample,
    "q59_corr" -> q59_corr,
    "q60_avro_roundtrip" -> q60_avro_roundtrip,
    "q61_proto_roundtrip" -> q61_proto_roundtrip,
    "q62_envelope" -> q62_envelope,
    "q63_contamination" -> q63_contamination,
    "q64_pii_redact" -> q64_pii_redact,
    "q65_dedup_clusters" -> q65_dedup_clusters,
    "q66_curation_pipeline" -> q66_curation_pipeline,
    "q67_sequence_packing" -> q67_sequence_packing,
    "q68_doc_repetition" -> q68_doc_repetition,
    "q69_mixture_sample" -> q69_mixture_sample,
    "q70_boilerplate" -> q70_boilerplate,
    "q71_range_join" -> q71_range_join,
    "q72_tfidf_keywords" -> q72_tfidf_keywords,
    "q73_range_window" -> q73_range_window,
    "q74_leakage_safe_split" -> q74_leakage_safe_split,
    "q75_token_chunks" -> q75_token_chunks,
    "q76_knn_self" -> q76_knn_self,
    "q77_eval_sample" -> q77_eval_sample,
    "q78_adaptive_quality" -> q78_adaptive_quality,
    "q79_ivf_auto" -> q79_ivf_auto,
    "q80_dup_ngram_spans" -> q80_dup_ngram_spans,
    "q81_semdedup" -> q81_semdedup,
    "q82_shuffle_shards" -> q82_shuffle_shards,
    "q83_dedup_cut" -> q83_dedup_cut,
    "q84_weighted_interleave" -> q84_weighted_interleave,
    "q85_hll_distinct" -> q85_hll_distinct,
    "q86_hll_merge" -> q86_hll_merge,
    "q87_bloom_contamination" -> q87_bloom_contamination,
    "q88_cms_topk" -> q88_cms_topk,
    "q89_bloom_flag" -> q89_bloom_flag,
    "q90_kmv_distinct" -> q90_kmv_distinct,
    "q91_kmv_merge" -> q91_kmv_merge,
    "q92_hist_quantiles" -> q92_hist_quantiles,
    "q93_minhash_sources" -> q93_minhash_sources,
    "q94_kmv_jaccard" -> q94_kmv_jaccard,
    "q95_hist_by_lang" -> q95_hist_by_lang,
    "q96_multi_bloom" -> q96_multi_bloom,
    "q97_cms_by_lang" -> q97_cms_by_lang,
    "q98_topk_shards" -> q98_topk_shards,
    "q99_priority_sample" -> q99_priority_sample,
    "q100_priority_by_lang" -> q100_priority_by_lang,
    "q101_hll_windowed" -> q101_hll_windowed,
    "q102_kmv_windowed" -> q102_kmv_windowed,
    "q103_cms_agg" -> q103_cms_agg,
    "q104_kmv_matrix" -> q104_kmv_matrix,
    "q105_kmv_setops" -> q105_kmv_setops,
    "q106_lm_surprisal" -> q106_lm_surprisal,
    "q107_zorder_stats" -> q107_zorder_stats,
    "q108_sq_ann" -> q108_sq_ann,
    "q109_bm25" -> q109_bm25,
    "q110_table_profile" -> q110_table_profile,
    "q111_incremental_minhash" -> q111_incremental_minhash,
    "q112_bpe_train" -> q112_bpe_train,
    "q113_bpe_tokens" -> q113_bpe_tokens,
    "q114_nb_classifier" -> q114_nb_classifier,
    "q115_image_header_probe" -> q115_image_header_probe,
    "q116_wav_probe" -> q116_wav_probe,
    "q117_pq_adc" -> q117_pq_adc,
    "q118_ivfpq" -> q118_ivfpq,
    "q119_gopher_rules" -> q119_gopher_rules,
    "q120_dsir_scores" -> q120_dsir_scores,
    "q121_containment" -> q121_containment,
    "q122_budget_select" -> q122_budget_select,
    "q123_ann_recall" -> q123_ann_recall,
    "q124_pmi_collocations" -> q124_pmi_collocations,
    "q125_fuzzy_names" -> q125_fuzzy_names,
    "q126_skew_report" -> q126_skew_report,
    "q127_centroid_drift" -> q127_centroid_drift,
    "q128_cdc_chunks" -> q128_cdc_chunks,
    "q129_winnow_matches" -> q129_winnow_matches,
    "q130_blocklist_gate" -> q130_blocklist_gate,
    "q131_cross_source_dups" -> q131_cross_source_dups,
    "q132_bpe_coverage" -> q132_bpe_coverage,
    "q133_budget_by_lang" -> q133_budget_by_lang,
    "q134_hard_negatives" -> q134_hard_negatives,
    "q135_cluster_balance" -> q135_cluster_balance,
    "q136_quantile_norm" -> q136_quantile_norm,
    "q137_fuzzy_decontam" -> q137_fuzzy_decontam,
    "q138_temperature_mix" -> q138_temperature_mix,
    "q139_entity_clusters" -> q139_entity_clusters,
    "q140_price_outliers" -> q140_price_outliers,
    "q141_sessionization" -> q141_sessionization,
    "q142_png_pixels" -> q142_png_pixels,
    "q143_setsim_join" -> q143_setsim_join,
    "q144_event_funnel" -> q144_event_funnel,
    "q145_funnel_report" -> q145_funnel_report,
    "q146_png_grid_features" -> q146_png_grid_features,
    "q147_rank_eval" -> q147_rank_eval,
    "q148_random_projection" -> q148_random_projection,
    "q149_rp_recall" -> q149_rp_recall,
    "q150_exact_decontam" -> q150_exact_decontam,
    "q151_retention_cohorts" -> q151_retention_cohorts,
    "q152_textrank" -> q152_textrank,
    "q153_label_noise" -> q153_label_noise,
    "q154_novelty_curve" -> q154_novelty_curve,
    "q155_psi_drift" -> q155_psi_drift,
    "q156_data_expectations" -> q156_data_expectations,
    "q157_ref_integrity" -> q157_ref_integrity,
    "q158_snapshot_diff" -> q158_snapshot_diff,
    "q159_bmp_pixels" -> q159_bmp_pixels,
    "q160_wav_pcm" -> q160_wav_pcm,
    "q161_word_triangles" -> q161_word_triangles,
    "q162_assoc_rules" -> q162_assoc_rules,
    "q163_gif_pixels" -> q163_gif_pixels,
    "q164_join_amplification" -> q164_join_amplification,
    "q165_heaps_curve" -> q165_heaps_curve,
    "q166_image_dhash" -> q166_image_dhash,
    "q167_trending" -> q167_trending,
    "q168_audio_fingerprint" -> q168_audio_fingerprint,
    "q169_psi_baseline" -> q169_psi_baseline,
    "q170_zipf_report" -> q170_zipf_report,
    "q171_jpeg_pixels" -> q171_jpeg_pixels,
    "q172_decontam_index" -> q172_decontam_index,
    "q173_decontam_probe" -> q173_decontam_probe,
    "q174_png_adam7" -> q174_png_adam7,
    "q175_ngram_overlap" -> q175_ngram_overlap,
    "q176_cluster_reps" -> q176_cluster_reps,
    "q177_stratified_sample" -> q177_stratified_sample,
    "q178_bbit_minhash" -> q178_bbit_minhash,
    "q179_classification_report" -> q179_classification_report,
    "q180_cohens_kappa" -> q180_cohens_kappa,
    "q181_discriminative_words" -> q181_discriminative_words,
    "q182_distinct_ngrams" -> q182_distinct_ngrams,
    "q183_bayesian_rates" -> q183_bayesian_rates,
    "q184_uncertainty_sample" -> q184_uncertainty_sample,
    "q185_js_divergence" -> q185_js_divergence,
    "q186_rank_rbo" -> q186_rank_rbo,
    "q187_heavy_changers" -> q187_heavy_changers,
    "q188_burstiness" -> q188_burstiness,
    "q189_length_gini" -> q189_length_gini,
    "q190_token_entropy" -> q190_token_entropy,
    "q191_dbscan" -> q191_dbscan,
    "q192_cbor_decode" -> q192_cbor_decode,
    "q193_bm25_index" -> q193_bm25_index,
    "q194_bm25_probe" -> q194_bm25_probe,
    "q195_percolate" -> q195_percolate,
    "q196_seasonal_anomalies" -> q196_seasonal_anomalies,
    "q197_cusum_shifts" -> q197_cusum_shifts,
    "q198_chao1_richness" -> q198_chao1_richness,
    "q199_mann_kendall" -> q199_mann_kendall,
    "q200_lead_lag" -> q200_lead_lag,
    "q201_wasserstein_drift" -> q201_wasserstein_drift,
    "q202_markov_transitions" -> q202_markov_transitions,
    "q203_markov_stationary" -> q203_markov_stationary,
    "q204_sequence_patterns" -> q204_sequence_patterns,
    "q205_rrf_hybrid" -> q205_rrf_hybrid,
    "q206_benford_screen" -> q206_benford_screen,
    "q207_survival_curve" -> q207_survival_curve,
    "q208_mmr_rerank" -> q208_mmr_rerank,
    "q209_text_tiling" -> q209_text_tiling,
    "q210_zonemap_pruning" -> q210_zonemap_pruning,
    "q211_concurrency_curve" -> q211_concurrency_curve,
    "q212_calibration_report" -> q212_calibration_report,
    "q213_item_similarity" -> q213_item_similarity,
    "q214_rfm_segments" -> q214_rfm_segments,
    "q215_cohort_ltv" -> q215_cohort_ltv,
    "q216_transition_dwell" -> q216_transition_dwell,
    "q217_scd2_intervals" -> q217_scd2_intervals,
    "q218_fleiss_kappa" -> q218_fleiss_kappa,
    "q219_hill_tail" -> q219_hill_tail,
    "q220_ewma_bands" -> q220_ewma_bands,
    "q221_bitext_margin" -> q221_bitext_margin,
    "q222_kcore_profile" -> q222_kcore_profile,
    "q223_theilsen_slope" -> q223_theilsen_slope,
    "q224_pit_join" -> q224_pit_join,
    "q225_dataset_card" -> q225_dataset_card,
    "q226_acf" -> q226_acf,
    "q227_ks_drift" -> q227_ks_drift,
    "q228_attribution" -> q228_attribution,
    "q229_lorenz_curve" -> q229_lorenz_curve,
    "q230_session_paths" -> q230_session_paths,
    "q231_compression_ratio" -> q231_compression_ratio,
    "q232_user_profile" -> q232_user_profile,
    "q233_revenue_trend" -> q233_revenue_trend,
    "q234_tone_detect" -> q234_tone_detect,
    "q235_winsorized_stats" -> q235_winsorized_stats,
    "q236_kn_surprisal" -> q236_kn_surprisal,
    "q237_cluster_labels" -> q237_cluster_labels,
    "q238_vocab_jaccard" -> q238_vocab_jaccard,
    "q239_source_outliers" -> q239_source_outliers,
    "q240_brand_affinity" -> q240_brand_affinity,
    "q241_roc_auc" -> q241_roc_auc,
    "q242_ols_trend" -> q242_ols_trend,
    "q243_pareto_front" -> q243_pareto_front,
    "q244_ab_test" -> q244_ab_test,
    "q245_script_mix" -> q245_script_mix,
    "q246_readability" -> q246_readability,
    "q247_phrase_search" -> q247_phrase_search,
    "q248_lsh_eval" -> q248_lsh_eval,
    "q249_interval_coverage" -> q249_interval_coverage,
    "q250_markov_attribution" -> q250_markov_attribution,
    "q251_record_linkage" -> q251_record_linkage,
    "q252_negative_sample" -> q252_negative_sample,
    "q253_sequence_surprisal" -> q253_sequence_surprisal,
    "q254_kn_next_word" -> q254_kn_next_word,
    "q255_source_tfidf_cosine" -> q255_source_tfidf_cosine,
    "q256_nb_auc" -> q256_nb_auc,
    "q257_growth_accounting" -> q257_growth_accounting,
    "q258_partition_agreement" -> q258_partition_agreement,
    "q259_woe_iv" -> q259_woe_iv,
    "q260_target_encode" -> q260_target_encode,
    "q261_bootstrap_ci" -> q261_bootstrap_ci,
    "q262_label_prop" -> q262_label_prop,
    "q263_golden_records" -> q263_golden_records,
    "q264_cuped" -> q264_cuped,
    "q265_max_coverage" -> q265_max_coverage,
    "q266_loo_source_impact" -> q266_loo_source_impact,
    "q267_image_dup_clusters" -> q267_image_dup_clusters,
    "q268_intrinsic_dim" -> q268_intrinsic_dim,
    "q269_neyman_sample" -> q269_neyman_sample,
    "q270_hopkins" -> q270_hopkins,
    "q271_ch_index" -> q271_ch_index,
    "q272_did_report" -> q272_did_report,
    "q273_gini_split" -> q273_gini_split,
    "q274_kendall_tau" -> q274_kendall_tau,
    "q275_bootstrap_ratio" -> q275_bootstrap_ratio,
    "q276_spearman_rho" -> q276_spearman_rho,
    "q277_chi_squared" -> q277_chi_squared,
    "q278_mwu_drift" -> q278_mwu_drift,
    "q279_k_anonymity" -> q279_k_anonymity,
    "q280_shapley_attribution" -> q280_shapley_attribution,
    "q281_logrank" -> q281_logrank,
    "q282_matryoshka_recall" -> q282_matryoshka_recall,
    "q283_brown_forecast" -> q283_brown_forecast,
    "q284_bh_fdr" -> q284_bh_fdr,
    "q285_pca_top" -> q285_pca_top,
    "q286_isotonic_calibration" -> q286_isotonic_calibration,
    "q287_fairness_report" -> q287_fairness_report,
    "q288_cum_sqrt_strata" -> q288_cum_sqrt_strata,
    "q289_conformal" -> q289_conformal,
    "q290_mcnemar" -> q290_mcnemar,
    "q291_map_eval" -> q291_map_eval,
    "q292_phonetic_blocking" -> q292_phonetic_blocking,
    "q293_ql_retrieval" -> q293_ql_retrieval,
    "q294_silhouette" -> q294_silhouette,
    "q295_krippendorff" -> q295_krippendorff,
    "q296_t_closeness" -> q296_t_closeness,
    "q297_cem_att" -> q297_cem_att,
    "q298_holt_winters" -> q298_holt_winters,
    "q299_token_f1" -> q299_token_f1,
    "q300_hits" -> q300_hits,
    "q301_cmh_test" -> q301_cmh_test,
    "q302_qini_curve" -> q302_qini_curve,
    "q303_jw_verify" -> q303_jw_verify,
    "q304_sample_size" -> q304_sample_size,
    "q305_cronbach" -> q305_cronbach,
    "q306_sprt" -> q306_sprt,
    "q307_good_turing" -> q307_good_turing,
    "q308_yule_k" -> q308_yule_k,
    "q309_ece_report" -> q309_ece_report,
    "q310_doremi_step" -> q310_doremi_step,
    "q311_concentration" -> q311_concentration,
    "q312_lm_cross_ppl" -> q312_lm_cross_ppl,
    "q313_burrows_delta" -> q313_burrows_delta,
    "q314_brier_decomp" -> q314_brier_decomp,
    "q315_anova" -> q315_anova,
    "q316_durbin_watson" -> q316_durbin_watson,
    "q317_surprisal_spans" -> q317_surprisal_spans,
    "q318_dim_anova" -> q318_dim_anova,
    "q319_seasonal_strength" -> q319_seasonal_strength,
    "q320_cv_auc" -> q320_cv_auc,
    "q321_brown_forsythe" -> q321_brown_forsythe,
    "q322_kruskal_wallis" -> q322_kruskal_wallis,
    "q323_chi_residuals" -> q323_chi_residuals,
    "q324_jonckheere" -> q324_jonckheere,
    "q325_cochran_q" -> q325_cochran_q,
    "q326_friedman" -> q326_friedman,
    "q327_page_trend" -> q327_page_trend,
    "q328_wilcoxon" -> q328_wilcoxon,
    "q329_cliffs_delta" -> q329_cliffs_delta,
    "q330_template_boilerplate" -> q330_template_boilerplate,
    "q331_ljung_box" -> q331_ljung_box,
    "q332_runs_test" -> q332_runs_test,
    "q333_theil" -> q333_theil,
    "q334_cohens_d" -> q334_cohens_d,
    "q335_adjusted_rand" -> q335_adjusted_rand,
    "q336_bcubed" -> q336_bcubed,
    "q337_vmeasure" -> q337_vmeasure,
    "q338_lsh_plan" -> q338_lsh_plan,
    "q339_mp4_probe" -> q339_mp4_probe,
    "q340_webm_probe" -> q340_webm_probe,
    "q341_changepoint" -> q341_changepoint,
    "q342_flac_probe" -> q342_flac_probe,
    "q343_mp3_probe" -> q343_mp3_probe,
    "q344_ogg_probe" -> q344_ogg_probe,
    "q345_seed_expansion" -> q345_seed_expansion,
    "q346_risk_coverage" -> q346_risk_coverage,
    "q347_tiff_probe" -> q347_tiff_probe,
    "q348_avi_probe" -> q348_avi_probe,
    "q349_media_inventory" -> q349_media_inventory,
    "q350_curation_verdict" -> q350_curation_verdict,
    "q351_raking" -> q351_raking,
    "q352_raked_sample" -> q352_raked_sample,
    "q353_html_extract" -> q353_html_extract,
    "q354_curated_web" -> q354_curated_web,
    "q355_html_outlinks" -> q355_html_outlinks,
    "q356_url_dedup" -> q356_url_dedup,
    "q357_line_dedup" -> q357_line_dedup,
    "q358_warc_extract" -> q358_warc_extract)
}
