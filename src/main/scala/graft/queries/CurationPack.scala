package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Chunking, Dedup, Perplexity, Quantization, Ranking, Similarity}
import graft.operators.{Bloom, Merge, Skew, TimeSeries}
import Q._

/**
 * Round-4 curation / lakehouse operators: token-window chunking, duplicated-
 * passage detection, hybrid (keyword ⊕ vector) retrieval with reciprocal-rank
 * fusion, CDC changelog merge, time-series resampling with gap fill, and
 * bloom-filter join pruning.
 *
 * Oracle discipline matches the other packs: every published number is an
 * exact integer (micro/cents/counts) or an md5 hex string; every ranking is
 * ordered by those integers with id tiebreaks; every hash family used by an
 * operator (bloom positions) is md5-based so DuckDB re-derives it exactly —
 * the oracle rebuilds the filter bit-for-bit, false positives included.
 */
object CurationPack extends QueryPack {

  private val ChunkTokens = 32
  private val OverlapTokens = 8
  private val Stride = ChunkTokens - OverlapTokens

  private val PassageN = 8

  private val RrfTerms = Seq("join", "spark", "vector", "slow")
  private val RrfK = 60
  private val RrfDepth = 30
  private val RrfTop = 20
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  private val BloomBits = 63 * 16 // 1008
  private val BloomHashes = 3

  private val HourNs = 3600000000000L

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_chunk_docs" -> { (s, dir) =>
      // fixed-token windows with overlap; chunk text published as md5
      Chunking.tokenChunks(t(s, dir, "documents"), "doc_id", "text",
          ChunkTokens, OverlapTokens)
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
          col("n_tok"), md5(col("chunk_text")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    "q_dedup_passages" -> { (s, dir) =>
      // corpus + verbatim copies of the first 25 docs under high ids: every
      // copied doc must come back fully duplicated (ratio 1e6) — a vacuous
      // detector that reports 0 everywhere fails the planted rows
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = base.unionByName(
        base.filter(col("doc_id") < 25)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.duplicatedPassages(corpus, "doc_id", "text", PassageN)
        .orderBy(col("doc_id"))
    },
    "q_hybrid_rrf" -> { (s, dir) =>
      // hybrid retrieval: BM25 keyword list ⊕ cosine-kNN list (query =
      // vector 0) over the docs that have embeddings, fused by RRF
      val emb = t(s, dir, "embeddings")
      val ids = emb.select(col("vec_id"))
      val corpus = t(s, dir, "documents")
        .join(ids, col("doc_id") === col("vec_id")).drop("vec_id")
      // top-k FIRST (TakeOrderedAndProject — no global-window shuffle of
      // every scored doc), then ranks assigned on the k surviving rows
      // rank the k survivors with the distributed ranker — the relation is
      // bounded by RrfDepth, but a row_number() global window would still
      // plan the single-partition WindowExec this library bans
      val kw = graft.operators.Ranks.withGlobalRank(
        Ranking.bm25(corpus, "doc_id", "text", RrfTerms,
            k1 = Bm25K1, b = Bm25B)
          .select(col("doc_id").as("id"), micros(col("score")).as("sm"))
          .orderBy(col("sm").desc, col("id")).limit(RrfDepth),
        "rank", Seq(col("sm").desc, col("id")))
      val vec = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") === 0)
            .select(col("vec_id").as("id"), col("embedding").as("vec")),
          emb.filter(col("vec_id") > 0)
            .select(col("vec_id").as("id"), col("embedding").as("vec")),
          k = RrfDepth)
        .select(col("cand_id").as("id"), col("rank"))
      Ranking.rrfFuse(Seq(kw.select(col("id"), col("rank")), vec), RrfK)
        .orderBy(col("rrf_micro").desc, col("id"))
        .limit(RrfTop)
    },
    "q_merge_upsert" -> { (s, dir) =>
      // CDC merge: +1000.00 price updates on keys %7, fresh inserts under
      // high keys %13, deletes on keys %11 (so %77 keys see update-then-
      // delete and the delete must win); graded as per-status counts + sums
      val snap = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderstatus"), cents(col("o_totalprice")).as("price_c"))
      val updates = snap.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("price_c") + 100000L).as("price_c"),
          lit(1L).as("version"), lit("U").as("op"))
      val inserts = snap.filter(col("o_orderkey") % 13 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("price_c"),
          lit(2L).as("version"), lit("U").as("op"))
      val deletes = snap.filter(col("o_orderkey") % 11 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("price_c"),
          lit(3L).as("version"), lit("D").as("op"))
      val merged = Merge.applyChangelog(snap,
        updates.unionByName(inserts).unionByName(deletes),
        Seq("o_orderkey"), "version", "op")
      merged.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("price_c")).as("sum_price_c"))
        .orderBy(col("o_orderstatus"))
    },
    "q_events_resample" -> { (s, dir) =>
      // hourly grid per user (users < 20), last observation carried forward
      val ev = t(s, dir, "events").filter(col("user_id") < 20)
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
      TimeSeries.resampleCarryForward(ev, "user_id", "ts", "value",
          "event_id", HourNs)
        .select(col("key").as("user_id"), col("bucket_ts"),
          cents(col("value")).as("value_c"), col("filled"))
        .orderBy(col("user_id"), col("bucket_ts"))
    },
    "q_join_bloom" -> { (s, dir) =>
      // bloom-filter join pruning: filter built over BUILDING customers,
      // probed by orders BEFORE any join. Graded exactly: n_bloom counts
      // filter passes (false positives included — the oracle rebuilds the
      // same bits), n_true the actual matches; n_bloom ≥ n_true always
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val bloom = Bloom.build(cust, "c_custkey", BloomBits, BloomHashes)
      val truth = cust.distinct().withColumnRenamed("c_custkey", "tk")
      t(s, dir, "orders")
        .crossJoin(broadcast(bloom))
        .withColumn("bloom_pass",
          Bloom.mightContain(col("bloom_words"), col("o_custkey"),
            BloomBits, BloomHashes))
        .join(broadcast(truth), col("o_custkey") === col("tk"), "left")
        .groupBy(col("o_orderpriority"))
        .agg(sum(when(col("bloom_pass"), 1L).otherwise(0L)).as("n_bloom"),
          sum(when(col("tk").isNotNull, 1L).otherwise(0L)).as("n_true"))
        .orderBy(col("o_orderpriority"))
    },
    "q_join_salted" -> { (s, dir) =>
      // skew-salted join: the salt must be INVISIBLE in the result — the
      // oracle is the plain (unsalted) join, so any leak of salt structure
      // (dropped pairs, duplicated pairs) fails the exact compare
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
        .withColumnRenamed("o_orderkey", "l_orderkey")
      Skew.saltedJoin(li, ord, "l_orderkey", saltBuckets = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          cents(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue_c"))
        .orderBy(col("o_orderpriority"))
    },
    "q_agg_hll_merge" -> { (s, dir) =>
      // distributed-sketch workflow: per-shard Datasketches-HLL sketches,
      // merged with hll_union_agg, estimated once. Graded as a contract
      // (like q_agg_approx_distinct): exact count + a Spark-computed
      // within-5% bound the oracle states must be true. Union of same-lgK
      // sketches is lossless, so the estimate is set-deterministic.
      val orders = t(s, dir, "orders")
      val shards = orders
        .withColumn("shard", pmod(col("o_orderkey"), lit(8)))
        .groupBy(col("shard"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      val est = shards.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = orders.agg(countDistinct(col("o_custkey")).as("exact_cust"))
      exact.crossJoin(est)
        .select(col("exact_cust"),
          (abs(col("est") - col("exact_cust")) / col("exact_cust") <= 0.05)
            .as("within_5pct"))
    },
    "q_events_rolling1h" -> { (s, dir) =>
      // time-RANGE window frame (vs q_events_moving's row frame): per
      // event, activity in the trailing hour for the same user — interval
      // frames over the long-nanos domain, exact in both engines
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
        .rangeBetween(-(HourNs - 1), 0)
      t(s, dir, "events").filter(col("user_id") < 200)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          cents(sum(col("value")).over(w)).as("sum_1h_c"))
        .orderBy(col("event_id"))
    },
    "q_agg_winsorize" -> { (s, dir) =>
      // robust aggregation: clip each group's prices to its exact
      // [p05, p95] percentiles, entirely in 1e4-integer space (price and
      // interpolated percentile are both integral there — see
      // q_agg_percentile), so the clip comparisons can never straddle a
      // double ulp between engines
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 10000).cast("long").as("v_tc"))
      // exactGrouped == `percentile` bit-for-bit (spec-locked), minus the
      // per-group value-histogram ObjectHashAggregate buffer (r18, §4/§5)
      val bounds = graft.operators.Quantiles.exactGrouped(
          li, "l_returnflag", "v_tc", Seq("lo" -> 0.05, "hi" -> 0.95))
        .select(col("l_returnflag"),
          round(col("lo")).cast("long").as("lo_tc"),
          round(col("hi")).cast("long").as("hi_tc"))
      li.join(broadcast(bounds), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("lo_tc"), col("hi_tc"),
          least(greatest(col("v_tc"), col("lo_tc")), col("hi_tc")).as("cv"),
          (col("v_tc") < col("lo_tc")).as("lo"), (col("v_tc") > col("hi_tc")).as("hi"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("cv")).as("sum_clip_tc"),
          sum(when(col("lo"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("hi"), 1L).otherwise(0L)).as("n_hi"),
          max(col("lo_tc")).as("p05_tc"), max(col("hi_tc")).as("p95_tc"))
        .orderBy(col("l_returnflag"))
    },
    "q_text_unigram_ppl" -> { (s, dir) =>
      // perplexity quality filter: unigram model trained on the English
      // slice, every doc scored against it — non-en docs surface as the
      // high-perplexity tail (the drop/reweight decision the filter feeds)
      val docs = t(s, dir, "documents")
      Perplexity.unigramScore(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    "q_text_bigram_ppl" -> { (s, dir) =>
      // bigram tier of the perplexity filter: conditional add-one model
      // p(w2|w1) trained on the English slice — sharper than unigram on
      // word-order garbage (shuffled or template text keeps a plausible
      // unigram profile but alien bigrams)
      val docs = t(s, dir, "documents")
      Perplexity.bigramScore(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    "q_knn_pq" -> { (s, dir) =>
      // product-quantized ANN: 64 dims → 8 codes/vector (16-codeword
      // deterministic codebooks), queries scored via the ADC table —
      // integer-summed, so the oracle re-derives ranks exactly
      val emb = t(s, dir, "embeddings")
      val queriesDf = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cands = emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cb = Quantization.codebooks(cands, dims = 64, m = 8, ksub = 16)
      val codes = Quantization.encode(cands, cb, dims = 64, m = 8)
      Quantization.adcTopK(queriesDf, codes, cb, dims = 64, m = 8, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    "q_join_asof_tol" -> { (s, dir) =>
      // as-of with staleness bound: purchases older than 1h before the
      // click are discarded (null payload) — q_join_asof's semantics plus
      // the tolerance post-filter; the one-shuffle shape is unchanged
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("p_event_id"), col("value"))
      graft.operators.Joins.asOf(clicks, purchases, key = "user_id",
          leftTime = "ts_us", rightTime = "ts_us",
          rightPayload = Seq("p_event_id" -> "p_event_id", "value" -> "p_value"),
          rightOrder = "p_event_id", tolerance = Some(3600000000L))
        .select(col("event_id"), col("user_id"), col("p_event_id"),
          cents(col("p_value")).as("p_value_c"))
        .orderBy(col("event_id"))
    },
    "q_audit_gaps" -> { (s, dir) =>
      // dense-sequence audit: l_linenumber should run 1..n per order; rows
      // are knocked out deterministically so the auditor has real gaps to
      // find — count(n) vs max(linenumber) disagreement flags the order
      val li = t(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey") + col("l_linenumber"), lit(13)) =!= 0)
      li.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"), max(col("l_linenumber")).as("mx"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("mx") =!= col("n"), 1L).otherwise(0L)).as("n_gapped"),
          sum(col("mx") - col("n")).as("n_missing"))
    },
    "q_profile_skew" -> { (s, dir) =>
      // group-size skew profiler: the distribution of per-key row counts —
      // the diagnostic run before choosing salting/AQE-skew settings;
      // percentiles ×1e4 are integral (integer counts, ≤2-decimal
      // interpolation fraction — the q_agg_percentile argument)
      def tc(c: org.apache.spark.sql.Column) = round(c * 10000).cast("long")
      // global percentiles via exactGrouped over a constant group (r18,
      // §4/§5 — same IEEE result, no per-group histogram buffer). On empty
      // input exactGrouped has no row while the global count still has
      // one (as `percentile` does: null quantiles), so the count side
      // drives a left join on the constant group; the 1-row side is a
      // broadcast
      val perKey = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      val pct = graft.operators.Quantiles.exactGrouped(
          perKey.withColumn("__g", lit(1)), "__g", "n",
          Seq("p50" -> 0.5, "p99" -> 0.99))
        .select(col("__g"), tc(col("p50")).as("p50_tc"), tc(col("p99")).as("p99_tc"))
      perKey
        .agg(lit(1).as("__g"), count(lit(1)).as("n_keys"),
          sum(col("n")).as("n_rows"), max(col("n")).as("max_n"))
        .join(broadcast(pct), Seq("__g"), "left")
        .drop("__g")
    },
  )

  // ---- oracle SQL ---------------------------------------------------------

  private def W = TextPack.W

  /** 64-dim cosine micro — mirrors Similarity.dot's sequential fold. */
  private def cosMicro(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum([CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE) for i in range(1,65)])"
    s"CAST(round((${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))) * 1000000) AS BIGINT)"
  }

  /** DuckDB mirror of Bloom.position: 8 md5 nibbles of "j:key" mod m.
    * `j` and `key` are SQL expressions; the md5 call is inlined per nibble
    * (DuckDB CSEs the duplicates). */
  private def bloomPosSql(j: String, key: String): String = {
    val h = s"md5(CAST($j AS VARCHAR) || ':' || CAST($key AS VARCHAR))"
    val nib = (i: Int) => s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1)"
    val v = (1 to 8).map(i => s"${nib(i)}::BIGINT * ${1L << (4 * (8 - i))}").mkString(" + ")
    s"(($v) % $BloomBits)"
  }

  override def oracles: Map[String, String] = Map(
    "q_chunk_docs" ->
      s"""WITH dw AS (SELECT doc_id, $W AS w FROM documents),
         |c AS (SELECT doc_id, w, len(w) AS nt,
         |        CASE WHEN len(w) <= $ChunkTokens THEN 1
         |             ELSE CAST(ceil((len(w) - $ChunkTokens) / $Stride.0) AS BIGINT) + 1
         |        END AS nc
         |      FROM dw),
         |x AS (SELECT doc_id, unnest(range(nc)) AS chunk_idx, w, nt FROM c)
         |SELECT doc_id, chunk_idx, chunk_idx * $Stride AS start_tok,
         |  least($ChunkTokens, nt - chunk_idx * $Stride) AS n_tok,
         |  md5(array_to_string(w[chunk_idx * $Stride + 1 : chunk_idx * $Stride + $ChunkTokens], ' ')) AS chunk_md5
         |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_dedup_passages" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25),
         |cw AS (SELECT doc_id, $W AS w FROM corpus),
         |pos AS (SELECT doc_id, unnest(${TextPack.shingleListSql(PassageN)}) AS s FROM cw),
         |docfreq AS (SELECT s, count(DISTINCT doc_id) AS nd FROM pos GROUP BY s)
         |SELECT doc_id, count(*) AS n_pos,
         |  CAST(count(*) FILTER (WHERE nd > 1) AS BIGINT) AS n_dup_pos,
         |  CAST(round(count(*) FILTER (WHERE nd > 1) * 1000000.0 / count(*)) AS BIGINT)
         |    AS dup_ratio_micro
         |FROM pos JOIN docfreq USING (s)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_hybrid_rrf" -> {
      val termList = RrfTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH corpus AS (
         |  SELECT d.doc_id, d.text FROM documents d
         |  JOIN embeddings e ON e.vec_id = d.doc_id),
         |dw AS (SELECT doc_id, $W AS w FROM corpus),
         |dl AS (SELECT doc_id, len(w) AS dl FROM dw),
         |g AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, tok, count(*) AS tf
         |       FROM (SELECT doc_id, unnest(w) AS tok FROM dw) x
         |       WHERE tok IN ($termList) GROUP BY 1, 2),
         |idf AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |bm AS (SELECT doc_id,
         |         CAST(round(sum(
         |           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |           * (tf * ${Bm25K1 + 1.0}) / (tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl))
         |         ) * 1000000) AS BIGINT) AS sm
         |       FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id), g
         |       GROUP BY doc_id),
         |kw AS (SELECT doc_id AS id, rank FROM (
         |         SELECT doc_id, row_number() OVER (ORDER BY sm DESC, doc_id) AS rank
         |         FROM bm) r WHERE rank <= $RrfDepth),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |vec AS (SELECT cid AS id, rank FROM (
         |          SELECT c.vec_id AS cid,
         |            row_number() OVER (ORDER BY ${cosMicro("qe", "c.embedding")} DESC, c.vec_id) AS rank
         |          FROM embeddings c, q WHERE c.vec_id > 0) r
         |        WHERE rank <= $RrfDepth),
         |u AS (SELECT id, rank FROM kw UNION ALL SELECT id, rank FROM vec)
         |SELECT id, count(*) AS n_lists,
         |  CAST(sum(CAST(round(1000000.0 / ($RrfK + rank)) AS BIGINT)) AS BIGINT) AS rrf_micro
         |FROM u GROUP BY id
         |ORDER BY rrf_micro DESC, id LIMIT $RrfTop""".stripMargin
    },
    "q_merge_upsert" ->
      s"""WITH snap AS (SELECT o_orderkey AS k, o_orderstatus AS st,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc,
         |    CAST(-9223372036854775807 - 1 AS BIGINT) AS v, 'U' AS op FROM orders),
         |chg AS (
         |  SELECT k, st, pc + 100000 AS pc, 1::BIGINT AS v, 'U' AS op
         |    FROM snap WHERE k % 7 = 0
         |  UNION ALL
         |  SELECT k + 10000000, 'N', pc, 2::BIGINT, 'U' FROM snap WHERE k % 13 = 0
         |  UNION ALL
         |  SELECT k, st, pc, 3::BIGINT, 'D' FROM snap WHERE k % 11 = 0),
         |allrows AS (SELECT * FROM snap UNION ALL SELECT * FROM chg),
         |r AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn
         |      FROM allrows)
         |SELECT st AS o_orderstatus, count(*) AS n,
         |  CAST(sum(pc) AS BIGINT) AS sum_price_c
         |FROM r WHERE rn = 1 AND op <> 'D'
         |GROUP BY st ORDER BY st""".stripMargin,
    "q_events_resample" ->
      s"""WITH ev AS (SELECT user_id, epoch_ns(ts) AS tns, value, event_id
         |            FROM events WHERE user_id < 20),
         |obs AS (SELECT user_id, bucket_ts, value FROM (
         |          SELECT user_id, tns - tns % $HourNs AS bucket_ts, value,
         |            row_number() OVER (PARTITION BY user_id, tns - tns % $HourNs
         |              ORDER BY tns DESC, event_id DESC, value DESC) AS rn
         |          FROM ev) x WHERE rn = 1),
         |spans AS (SELECT user_id, min(bucket_ts) AS b0, max(bucket_ts) AS b1
         |          FROM obs GROUP BY user_id),
         |grid AS (SELECT user_id, unnest(range(b0, b1 + 1, $HourNs)) AS bucket_ts
         |         FROM spans)
         |SELECT g.user_id, g.bucket_ts,
         |  CAST(round(last_value(o.value IGNORE NULLS) OVER (
         |    PARTITION BY g.user_id ORDER BY g.bucket_ts
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100) AS BIGINT)
         |    AS value_c,
         |  o.value IS NULL AS filled
         |FROM grid g LEFT JOIN obs o
         |  ON o.user_id = g.user_id AND o.bucket_ts = g.bucket_ts
         |ORDER BY g.user_id, g.bucket_ts""".stripMargin,
    "q_join_bloom" -> {
      val buildPos = bloomPosSql("t.j", "c_custkey")
      val probePos = bloomPosSql("t.j", "o_custkey")
      s"""WITH bk AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         |bpos AS (SELECT DISTINCT $buildPos AS p
         |         FROM bk, range($BloomHashes) t(j)),
         |bits AS (SELECT p // 63 AS word, bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS b
         |         FROM bpos GROUP BY 1),
         |op AS (SELECT o_orderkey, o_orderpriority, $probePos AS p
         |       FROM orders, range($BloomHashes) t(j)),
         |hits AS (SELECT op.o_orderkey, count(*) AS nh
         |         FROM op JOIN bits ON op.p // 63 = bits.word
         |           AND (bits.b & (1::BIGINT << CAST(op.p % 63 AS INT))) <> 0
         |         GROUP BY 1),
         |flags AS (SELECT o.o_orderkey, o.o_orderpriority,
         |            coalesce(h.nh, 0) = $BloomHashes AS bloom_pass,
         |            EXISTS (SELECT 1 FROM bk WHERE bk.c_custkey = o.o_custkey) AS is_true
         |          FROM orders o LEFT JOIN hits h ON h.o_orderkey = o.o_orderkey)
         |SELECT o_orderpriority,
         |  CAST(count(*) FILTER (WHERE bloom_pass) AS BIGINT) AS n_bloom,
         |  CAST(count(*) FILTER (WHERE is_true) AS BIGINT) AS n_true
         |FROM flags GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    },
    // the salt must be invisible: the oracle is the PLAIN join
    "q_join_salted" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(round(sum(l_extendedprice * (1.0 - l_discount)) * 100) AS BIGINT)
        |   AS revenue_c
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_agg_hll_merge" ->
      """SELECT count(DISTINCT o_custkey) AS exact_cust, true AS within_5pct
        |FROM orders""".stripMargin,
    "q_events_rolling1h" ->
      s"""SELECT user_id, event_id, count(*) OVER w AS n_1h,
         |  CAST(round(sum(value) OVER w * 100) AS BIGINT) AS sum_1h_c
         |FROM (SELECT user_id, event_id, epoch_ns(ts) AS tns, value
         |      FROM events WHERE user_id < 200) e
         |WINDOW w AS (PARTITION BY user_id ORDER BY tns
         |  RANGE BETWEEN ${HourNs - 1} PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin,
    "q_agg_winsorize" ->
      """WITH v AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 10000) AS BIGINT) AS v_tc FROM lineitem),
        |b AS (SELECT l_returnflag,
        |    CAST(round(quantile_cont(v_tc, 0.05)) AS BIGINT) AS lo_tc,
        |    CAST(round(quantile_cont(v_tc, 0.95)) AS BIGINT) AS hi_tc
        |  FROM v GROUP BY l_returnflag)
        |SELECT v.l_returnflag, count(*) AS n,
        |  CAST(sum(least(greatest(v_tc, lo_tc), hi_tc)) AS BIGINT) AS sum_clip_tc,
        |  CAST(count(*) FILTER (WHERE v_tc < lo_tc) AS BIGINT) AS n_lo,
        |  CAST(count(*) FILTER (WHERE v_tc > hi_tc) AS BIGINT) AS n_hi,
        |  max(lo_tc) AS p05_tc, max(hi_tc) AS p95_tc
        |FROM v JOIN b ON b.l_returnflag = v.l_returnflag
        |GROUP BY v.l_returnflag ORDER BY v.l_returnflag""".stripMargin,
    // bigram model re-derived: same shingle fragment, same conditional
    // add-one form; w1 = first space-split field of the bigram
    "q_text_bigram_ppl" ->
      s"""WITH refw AS (SELECT $W AS w FROM documents WHERE lang = 'en'),
         |refbg AS (SELECT unnest(${TextPack.shingleListSql(2)}) AS bg
         |          FROM refw WHERE len(w) >= 2),
         |bgc AS (SELECT bg, count(*) AS c2 FROM refbg GROUP BY bg),
         |ctx AS (SELECT tok AS w1, count(*) AS c1
         |        FROM (SELECT unnest(w) AS tok FROM refw) t
         |        WHERE tok <> '' GROUP BY tok),
         |vs AS (SELECT count(*) AS v_ref FROM ctx),
         |dbg AS (SELECT doc_id, unnest(${TextPack.shingleListSql(2)}) AS bg
         |        FROM (SELECT doc_id, $W AS w FROM documents) d
         |        WHERE len(w) >= 2)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(count(*) FILTER (WHERE c2 IS NULL) AS BIGINT) AS n_unseen,
         |  CAST(round(avg(-ln((coalesce(c2, 0) + 1) * 1.0
         |    / (coalesce(c1, 0) + v_ref))) * 1000000) AS BIGINT) AS mean_nll_micro
         |FROM (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM dbg) x
         |LEFT JOIN bgc USING (bg) LEFT JOIN ctx USING (w1), vs
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_unigram_ppl" ->
      s"""WITH ref AS (SELECT unnest($W) AS tok FROM documents WHERE lang = 'en'),
         |vocab AS (SELECT tok, count(*) AS c FROM ref GROUP BY tok),
         |st AS (SELECT CAST(sum(c) AS BIGINT) AS n_ref, count(*) AS v_ref FROM vocab),
         |dt AS (SELECT doc_id, unnest($W) AS tok FROM documents)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(count(*) FILTER (WHERE c IS NULL) AS BIGINT) AS n_oov,
         |  CAST(round(avg(-ln((coalesce(c, 0) + 1) * 1.0 / (n_ref + v_ref)))
         |    * 1000000) AS BIGINT) AS mean_nll_micro
         |FROM dt LEFT JOIN vocab USING (tok), st
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_knn_pq" -> {
      def dot(x: String, y: String) =
        s"list_sum([CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE) for i in range(1,9)])"
      def d2(x: String, y: String) =
        s"CAST(round((${dot(x, x)} + ${dot(y, y)} - 2.0 * ${dot(x, y)}) * 1000000) AS BIGINT)"
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |seeds AS (SELECT cid, ce, row_number() OVER (ORDER BY cid) - 1 AS code
         |          FROM (SELECT * FROM c ORDER BY cid LIMIT 16) s),
         |cb AS (SELECT code, sub, ce[sub*8+1 : sub*8+8] AS cvec
         |       FROM seeds, range(8) t(sub)),
         |csub AS (SELECT cid, sub, ce[sub*8+1 : sub*8+8] AS svec
         |         FROM c, range(8) t(sub)),
         |enc AS (SELECT cid, sub, code FROM (
         |    SELECT cid, sub, code, row_number() OVER (PARTITION BY cid, sub
         |      ORDER BY least(d2v, 4398046511103), code) AS rn
         |    FROM (SELECT cid, sub, code, ${d2("svec", "cvec")} AS d2v
         |          FROM csub JOIN cb USING (sub)) x) y WHERE rn = 1),
         |qsub AS (SELECT qid, sub, qe[sub*8+1 : sub*8+8] AS qsvec
         |         FROM q, range(8) t(sub)),
         |tab AS (SELECT qid, sub, code, ${d2("qsvec", "cvec")} AS d2v
         |        FROM qsub JOIN cb USING (sub)),
         |sc AS (SELECT qid, cid, CAST(sum(d2v) AS BIGINT) AS adc_micro
         |       FROM enc JOIN tab USING (sub, code) GROUP BY qid, cid)
         |SELECT query_id, rank, cand_id, adc_micro FROM (
         |  SELECT qid AS query_id, cid AS cand_id, adc_micro,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc_micro, cid) AS rank
         |  FROM sc) r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    "q_join_asof_tol" ->
      """WITH clicks AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus, event_id
        |               FROM events WHERE event_type = 'click'),
        |purch AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus,
        |            event_id AS p_event_id, value
        |          FROM events WHERE event_type = 'purchase'),
        |u AS (
        |  SELECT user_id, tus, event_id, 1 AS side,
        |    NULL::BIGINT AS p_event_id, NULL::DOUBLE AS pv FROM clicks
        |  UNION ALL
        |  SELECT user_id, tus, NULL, 0, p_event_id, value FROM purch),
        |m AS (SELECT user_id, tus, event_id, side,
        |    last_value(CASE WHEN side = 0 THEN p_event_id END IGNORE NULLS) OVER w AS p_event_id,
        |    last_value(CASE WHEN side = 0 THEN pv END IGNORE NULLS) OVER w AS p_value,
        |    last_value(CASE WHEN side = 0 THEN tus END IGNORE NULLS) OVER w AS mt
        |  FROM u WINDOW w AS (PARTITION BY user_id
        |    ORDER BY tus, side, p_event_id ASC NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id,
        |  CASE WHEN tus - mt <= 3600000000 THEN p_event_id END AS p_event_id,
        |  CASE WHEN tus - mt <= 3600000000
        |       THEN CAST(round(p_value * 100) AS BIGINT) END AS p_value_c
        |FROM m WHERE side = 1 ORDER BY event_id""".stripMargin,
    "q_audit_gaps" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber FROM lineitem
        |            WHERE (l_orderkey + l_linenumber) % 13 <> 0),
        |g AS (SELECT l_orderkey, count(*) AS n, max(l_linenumber) AS mx
        |      FROM li GROUP BY l_orderkey)
        |SELECT count(*) AS n_orders,
        |  CAST(count(*) FILTER (WHERE mx <> n) AS BIGINT) AS n_gapped,
        |  CAST(sum(mx - n) AS BIGINT) AS n_missing
        |FROM g""".stripMargin,
    "q_profile_skew" ->
      """WITH g AS (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY l_orderkey)
        |SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
        |  max(n) AS max_n,
        |  CAST(round(quantile_cont(n, 0.5) * 10000) AS BIGINT) AS p50_tc,
        |  CAST(round(quantile_cont(n, 0.99) * 10000) AS BIGINT) AS p99_tc
        |FROM g""".stripMargin,
  )
}
