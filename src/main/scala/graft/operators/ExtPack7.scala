package graft.operators

import graft.{QueryPack, Tables => T}
import graft.ext.{ProductQuantization => PQ}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline ops, seventh pack:
  *
  *   - q_pq_topk: product-quantized ANN
  *     (ext/ProductQuantization.scala — Jégou et al. 2011): top-5 per
  *     probe over milli-unit integer vectors, hash-seeded 256-centroid
  *     codebook over 16 blocks of 4 dims, asymmetric-distance scoring
  *     via a broadcast lookup table. 16 bytes per vector vs 256 raw:
  *     the 16x memory lever that makes a 100-TB corpus scannable from
  *     RAM. Replays bit-for-bit in DuckDB: codebook seeds come from
  *     the shared md5-derived hash, every distance is integer
  *     L2-squared, every argmin ties to the lowest centroid id.
  *   - q_pq_recall: recall@5 of the PQ ranking vs exact integer-L2
  *     brute force over the same probes (half-up ppm — measured
  *     0.60 on this corpus's random-gaussian embeddings, the regime
  *     PQ is WORST at; clustered real embeddings quantize better).
  *   - q_lsh_precision: precision of the sign-LSH band candidates
  *     against the exact-cosine truth on the same absolute-budget
  *     sample as q_lsh_recall — together the two probes give the full
  *     banding operating point.
  *   - q_mad_outliers: median-absolute-deviation length gate (robust
  *     to the very outliers a mean/stddev gate is dragged by).
  *   - q_cdc_chunks: content-defined chunking — shift-resistant chunk
  *     hashes as dedup keys (ext/TextOps.cdcChunks).
  *   - q_temperature_mix: sqrt-weighted (temperature-2) language
  *     allocation for multilingual mixing.
  *   - q_global_rank: distributed global ntile/cume_dist/percent_rank
  *     (ext/GlobalRank.scala) — range partition + per-partition row
  *     numbers + broadcast prefix offsets, no single-partition window
  *     anywhere in the plan.
  */
object ExtPack7 extends QueryPack {

  private val M = 16     // blocks per vector
  private val K = 256    // centroids per block (byte codes, the classic PQ)
  private val Dim = 64   // embedding dim
  private val TopK = 5

  private def pqTop(s: SparkSession, d: String): DataFrame = {
    val q = PQ.quantize(T.embeddings(s, d))
    val cents = PQ.codebook(q, M, K, Dim)
    val vb = PQ.blockize(q, M, Dim)
    val codes = PQ.encode(vb, cents, Dim / M)
    val lut = PQ.lut(vb.filter(col("vec_id") < 10), cents, Dim / M)
    PQ.search(codes, lut, TopK)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pq_topk" -> ((s, d) => {
      import s.implicits._
      pqTop(s, d).select($"q_id", $"vec_id", $"adist", $"rank_no")
    }),

    // Robust outlier gate: MAD (median absolute deviation) over doc
    // lengths per source — the standard heavy-tail-safe length filter
    // (mean/stddev gates are dragged by the very outliers they should
    // catch; median/MAD are not). Integer-exact across engines via the
    // 2x trick: med2 = percentile(2*len, .5) is an exact INTEGER
    // (interpolating two ints of the same parity), dev2 = |2*len -
    // med2| likewise, mad4 = percentile(2*dev2, .5) likewise; the
    // gate dev > k * mad cross-multiplies to integer terms with no
    // float anywhere — k = 1.5 here (4*dev2 > 3*mad4): the synthetic
    // corpus draws lengths from one tight distribution, so the
    // classic 3.5 never fires; production corpora use 3-3.5. Three narrow column-pruned passes over
    // (source, n_chars) — MAD is inherently two sequential medians.
    "q_mad_outliers" -> ((s, d) => {
      import s.implicits._
      // unfanned: three metadata-only passes (Probe fanab, r17)
      val docs = T.documentsUnfanned(s, d).select($"source", $"n_chars")
      val med = docs.groupBy($"source")
        .agg(expr("CAST(percentile(2 * n_chars, 0.5) AS BIGINT)")
          .as("med2"))
      val dev = docs.join(broadcast(med), "source")
        .withColumn("dev2", abs(lit(2) * $"n_chars" - $"med2"))
      val mad = dev.groupBy($"source")
        .agg(expr("CAST(percentile(2 * dev2, 0.5) AS BIGINT)")
          .as("mad4"))
      dev.join(broadcast(mad), "source")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(lit(4) * $"dev2" > lit(3) * $"mad4", 1L).otherwise(0L))
            .as("n_outliers"),
          min($"med2").as("med2"), min($"mad4").as("mad4"))
    }),

    // LSH candidate PRECISION — q_lsh_recall's complement, on the SAME
    // 'recall_'-hashed budget sample: what fraction of the band
    // candidates are true Jaccard>=0.7 pairs. Recall tunes
    // bands/rowsPerBand against missed duplicates; precision prices
    // the verification work each candidate costs downstream — the two
    // together are the full operating point of the banding.
    "q_lsh_precision" -> ((s, d) => {
      import s.implicits._
      import graft.ext.TextOps
      // unfanned: all work runs on a 1/m hash sample; every corpus
      // reference paid the exchange, none earned it (Probe fanab, r17)
      val docsAll = T.documentsUnfanned(s, d)
      val m = graft.ext.SampleBudget.modulus(docsAll.count(), 128L)
      val sampled = docsAll
        .filter(TextOps.tokenHash32(concat(lit("recall_"), $"doc_id"))
          % m === 0)
      val docs = sampled.select($"doc_id", $"source",
        TextOps.distinctTokens($"text").as("grams"))
      val truth = graft.ext.JaccardJoin
        .selfJoin(docs, "doc_id", "source", "grams", 0.7)
        .select($"id1", $"id2")
      val banded = sampled.select($"doc_id", $"source",
        posexplode(TextOps.bandKeys(
          TextOps.minhashSignature($"text", 16), 4, 4))
          .as(Seq("band", "bkey")))
      val cand = banded.as("a").join(banded.as("b"),
          $"a.source" === $"b.source" && $"a.band" === $"b.band" &&
            $"a.bkey" === $"b.bkey" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("id1"), $"b.doc_id".as("id2")).distinct()
      val hits = cand.join(truth, Seq("id1", "id2"), "left_semi")
      cand.agg(count(lit(1)).as("n_cand")).crossJoin(
          hits.agg(count(lit(1)).as("n_hits")))
        .select($"n_cand", $"n_hits",
          when($"n_cand" > 0,
            expr("((1000000 * n_hits) + (n_cand div 2)) div n_cand"))
            .otherwise(lit(1000000L)).as("precision_ppm"))
    }),

    // Temperature-weighted language mixing (Conneau et al. 2020 §3.1
    // style): sampling weight per language ∝ n^(1/τ) with τ = 2, so
    // low-resource languages are upweighted relative to their raw
    // token share. Exact across engines: IEEE-754 requires sqrt to be
    // CORRECTLY ROUNDED (unlike exp/log/pow, which vary per libm), so
    // CAST(floor(sqrt(n)) AS BIGINT) is deterministic everywhere; the
    // per-language allocation is then integer B * w div Σw
    // (truncating — the ≤(#langs-1) remainder tokens are the
    // documented slack). One groupBy + a broadcast 1-row total.
    "q_temperature_mix" -> ((s, d) => {
      import s.implicits._
      val budget = 1000000L
      // unfanned: immediate groupBy supersedes the fan (Probe fanab, r17)
      val perLang = T.documentsUnfanned(s, d)
        .groupBy($"lang")
        .agg(sum(size(graft.ext.TextOps.tokens($"text")).cast("long"))
          .as("n_tokens"))
        .withColumn("w",
          floor(sqrt($"n_tokens".cast("double"))).cast("long"))
      val tot = perLang.agg(sum($"w").cast("long").as("w_tot"))
      perLang.crossJoin(broadcast(tot))
        .select($"lang", $"n_tokens", $"w",
          expr(s"CAST(($budget * w) div w_tot AS BIGINT)")
            .as("alloc_tokens"))
    }),

    // Content-defined chunking (ext/TextOps.cdcChunks): hash-residue
    // boundaries instead of fixed strides, so the chunk hashes of a
    // doc survive a prefix/infix edit — the dedup key for
    // boilerplate-shifted near-copies that q_chunking's fixed windows
    // can never align. Shift-resistance itself is pinned in
    // ExtPack7Spec; this row oracle-checks the chunk decomposition.
    "q_cdc_chunks" -> ((s, d) =>
      graft.ext.TextOps.cdcChunks(
        T.documents(s, d).select(col("doc_id"), col("text")), mod = 8)),

    "q_pq_recall" -> ((s, d) => {
      import s.implicits._
      val q = PQ.quantize(T.embeddings(s, d))
      val probes = q.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"eq".as("qe"))
      val brute = q.join(broadcast(probes), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id", PQ.l2sqFixed($"eq", $"qe", Dim).as("d2"))
      val truth = TopN(brute, Seq($"q_id"),
        Seq($"d2".asc, $"vec_id".asc), TopK).select($"q_id", $"vec_id")
      val approx = pqTop(s, d).select($"q_id", $"vec_id")
      val hit = truth.join(approx, Seq("q_id", "vec_id"), "left_semi")
      truth.agg(count(lit(1)).as("n_true")).crossJoin(
          hit.agg(count(lit(1)).as("n_hit")))
        .select($"n_true", $"n_hit",
          when($"n_true" > 0,
            expr("((1000000 * n_hit) + (n_true div 2)) div n_true"))
            .otherwise(lit(1000000L)).as("recall_ppm"))
    }),

    // Distributed GLOBAL ntile/cume_dist/percent_rank
    // (ext/GlobalRank.scala): the scale-safe two-phase form of an
    // un-partitioned ranking window — range partition, per-partition
    // row numbers, driver prefix-sum of one count per partition,
    // broadcast offsets. Closes the one remaining single-partition
    // window shape in the suite (q_over_ntile demonstrates the window
    // SEMANTICS; this op is how the same numbers are produced at
    // 100 TB). Statistics in exact micro-units over the unique
    // o_orderkey total order.
    "q_global_rank" -> ((s, d) => {
      import s.implicits._
      graft.ext.GlobalRank.rank(s, T.orders(s, d)
          .select($"o_orderkey"), col("o_orderkey"), k = 8)
        .select($"o_orderkey", $"rn", $"ntile_k", $"cume_dist_e6",
          $"percent_rank_e6")
    }),

    // GlobalRank over a NON-unique key (o_custkey repeats across
    // orders): rank_g / dense_rank_g / cume_dist / percent_rank are
    // tie-exact without any boundary merge because the range
    // partitioner assigns by key VALUE — equal keys can never
    // straddle a partition (GlobalRank.scala scaladoc). Only the
    // tie-STABLE statistics are emitted (rn/ntile order among peers
    // is arbitrary, exactly as in SQL).
    "q_global_rank_ties" -> ((s, d) => {
      import s.implicits._
      graft.ext.GlobalRank.rank(s, T.orders(s, d)
          .select($"o_orderkey", $"o_custkey"), col("o_custkey"), k = 8)
        .select($"o_orderkey", $"o_custkey", $"rank_g", $"dense_rank_g",
          $"cume_dist_e6", $"percent_rank_e6")
    })
  )

  // Shared SQL fragments: milli-quantized vectors, hash-seeded
  // codebook, per-block slices, integer block L2² (bs = 4).
  private val pqCommon =
    """WITH eq AS (
         SELECT vec_id,
                list_transform(embedding::DOUBLE[],
                  x -> CAST(round(x * 1000) AS BIGINT)) AS e
         FROM embeddings),
       seeds AS (
         SELECT vec_id, e,
                list_reduce(list_transform(range(1, 9),
                  i -> strpos('0123456789abcdef',
                              substr(md5('pq_' || vec_id), i, 1)) - 1),
                  (a, b) -> a * 16 + b) AS h
         FROM eq),
       cents AS (
         SELECT e, row_number() OVER (ORDER BY h, vec_id) - 1 AS cid
         FROM seeds ORDER BY h, vec_id LIMIT 256),
       blocks AS (SELECT unnest(range(0, 16)) AS b),
       centblk AS (
         SELECT cid, b, list_slice(e, b * 4 + 1, b * 4 + 4) AS c
         FROM cents, blocks),
       vecblk AS (
         SELECT vec_id, b, list_slice(e, b * 4 + 1, b * 4 + 4) AS x
         FROM eq, blocks),
       enc AS (
         SELECT vec_id, vecblk.b AS b, cid,
                list_reduce(list_transform(range(1, 5),
                  i -> (x[CAST(i AS INT)] - c[CAST(i AS INT)])
                     * (x[CAST(i AS INT)] - c[CAST(i AS INT)])),
                  (a, v) -> a + v) AS d2
         FROM vecblk JOIN centblk ON vecblk.b = centblk.b),
       codes AS (
         SELECT vec_id, b, cid AS code FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id, b
                       ORDER BY d2, cid) AS rn
           FROM enc) WHERE rn = 1),
       lut AS (
         SELECT vec_id AS q_id, b, cid, d2 AS qd2
         FROM enc WHERE vec_id < 10),
       adc AS (
         SELECT l.q_id, cd.vec_id, CAST(sum(l.qd2) AS BIGINT) AS adist
         FROM codes cd JOIN lut l ON cd.b = l.b AND cd.code = l.cid
         WHERE cd.vec_id <> l.q_id
         GROUP BY l.q_id, cd.vec_id),
       pq_top AS (
         SELECT q_id, vec_id, adist, rank_no FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
                       ORDER BY adist, vec_id) AS rank_no
           FROM adc) WHERE rank_no <= 5)"""

  def oracle: Map[String, String] = Map(
    "q_global_rank" ->
      """SELECT o_orderkey,
                row_number() OVER (ORDER BY o_orderkey) AS rn,
                ntile(8) OVER (ORDER BY o_orderkey) AS ntile_k,
                (row_number() OVER (ORDER BY o_orderkey) * 1000000)
                  // count(*) OVER () AS cume_dist_e6,
                ((row_number() OVER (ORDER BY o_orderkey) - 1) * 1000000)
                  // (count(*) OVER () - 1) AS percent_rank_e6
         FROM orders""",
    "q_global_rank_ties" ->
      """SELECT o_orderkey, o_custkey,
                rank() OVER (ORDER BY o_custkey) AS rank_g,
                dense_rank() OVER (ORDER BY o_custkey) AS dense_rank_g,
                (count(*) OVER (ORDER BY o_custkey
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 1000000) // count(*) OVER () AS cume_dist_e6,
                ((rank() OVER (ORDER BY o_custkey) - 1) * 1000000)
                  // (count(*) OVER () - 1) AS percent_rank_e6
         FROM orders""",
    "q_lsh_precision" ->
      """WITH sampled AS (
           SELECT * FROM documents
           WHERE list_reduce(list_transform(range(1, 9),
                   i -> strpos('0123456789abcdef',
                               substr(md5('recall_' || doc_id), i, 1)) - 1),
                   (a, b) -> a * 16 + b)
                 % (SELECT greatest(1, (count(*) + 127) // 128)
                    FROM documents) = 0),
         tk AS (
           SELECT DISTINCT doc_id, source,
                  unnest(list_distinct(string_split(text, ' '))) AS tok
           FROM sampled),
         sizes AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
           FROM tk a JOIN tk b
             ON a.source = b.source AND a.tok = b.tok
              AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         truth AS (
           SELECT id1, id2 FROM inter
           JOIN sizes s1 ON s1.doc_id = id1
           JOIN sizes s2 ON s2.doc_id = id2
           WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.7),
         th AS (
           SELECT doc_id, tok,
                  list_reduce(list_transform(range(1, 9),
                    i -> strpos('0123456789abcdef',
                                substr(md5(tok), i, 1)) - 1),
                    (a, b) -> a * 16 + b) AS h
           FROM tk),
         mh AS (
           SELECT doc_id, j,
                  min((h * (2*j + 1) + j * 12345 + 7) % 1000000007) AS m
           FROM th CROSS JOIN (SELECT unnest(range(0, 16)) AS j) js
           GROUP BY doc_id, j),
         bands AS (
           SELECT doc_id, j // 4 AS band,
                  md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY j)) AS bkey
           FROM mh GROUP BY doc_id, j // 4),
         src AS (SELECT doc_id, source FROM sampled),
         cand AS (
           SELECT DISTINCT da.doc_id AS id1, db.doc_id AS id2
           FROM bands da JOIN bands db
             ON da.band = db.band AND da.bkey = db.bkey
               AND da.doc_id < db.doc_id
           JOIN src s1 ON s1.doc_id = da.doc_id
           JOIN src s2 ON s2.doc_id = db.doc_id
           WHERE s1.source = s2.source),
         hits AS (
           SELECT c.id1, c.id2 FROM cand c
           WHERE EXISTS (SELECT 1 FROM truth t
                         WHERE t.id1 = c.id1 AND t.id2 = c.id2))
         SELECT (SELECT count(*) FROM cand) AS n_cand,
                (SELECT count(*) FROM hits) AS n_hits,
                CAST(CASE WHEN (SELECT count(*) FROM cand) > 0
                     THEN ((1000000 * (SELECT count(*) FROM hits))
                           + ((SELECT count(*) FROM cand) // 2))
                          // (SELECT count(*) FROM cand)
                     ELSE 1000000 END AS BIGINT) AS precision_ppm""",
    "q_temperature_mix" ->
      """WITH per AS (
           SELECT lang,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                    AS n_tokens
           FROM documents GROUP BY lang),
         w AS (
           SELECT lang, n_tokens,
                  CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
                    AS w
           FROM per),
         tot AS (SELECT CAST(sum(w) AS BIGINT) AS w_tot FROM w)
         SELECT lang, n_tokens, w,
                CAST((1000000 * w) // w_tot AS BIGINT) AS alloc_tokens
         FROM w, tot""",
    "q_cdc_chunks" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         t AS (
           SELECT doc_id, ws, unnest(range(0, len(ws))) AS pos FROM base),
         tok AS (
           SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                  ws[CAST(pos + 1 AS INT)] AS tok
           FROM t),
         fl AS (
           SELECT doc_id, pos, tok,
                  CASE WHEN list_reduce(list_transform(range(1, 9),
                         i -> strpos('0123456789abcdef',
                                     substr(md5(tok), i, 1)) - 1),
                         (a, b) -> a * 16 + b) % 8 = 0
                       THEN 1 ELSE 0 END AS bnd
           FROM tok),
         ch AS (
           SELECT doc_id, pos, tok,
                  COALESCE(CAST(sum(bnd) OVER (PARTITION BY doc_id
                    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING) AS BIGINT), 0) AS chunk_no
           FROM fl)
         SELECT doc_id, chunk_no, count(*) AS n_tokens,
                md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
         FROM ch GROUP BY doc_id, chunk_no""",
    "q_mad_outliers" ->
      """WITH d AS (SELECT source, n_chars FROM documents),
         med AS (
           SELECT source,
                  CAST(quantile_cont(2 * n_chars, 0.5) AS BIGINT) AS med2
           FROM d GROUP BY source),
         dev AS (
           SELECT d.source AS source, n_chars,
                  abs(2 * n_chars - med2) AS dev2, med2
           FROM d JOIN med ON d.source = med.source),
         mad AS (
           SELECT source,
                  CAST(quantile_cont(2 * dev2, 0.5) AS BIGINT) AS mad4
           FROM dev GROUP BY source)
         SELECT dev.source AS source, count(*) AS n_docs,
                CAST(sum(CASE WHEN 4 * dev2 > 3 * mad4 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_outliers,
                min(med2) AS med2, min(mad4) AS mad4
         FROM dev JOIN mad ON dev.source = mad.source
         GROUP BY dev.source""",
    "q_pq_topk" -> (pqCommon +
      """
       SELECT q_id, vec_id, adist, rank_no FROM pq_top"""),
    "q_pq_recall" -> (pqCommon + """,
       probes AS (SELECT vec_id AS q_id, e AS qe FROM eq WHERE vec_id < 10),
       brute AS (
         SELECT q_id, vec_id,
                list_reduce(list_transform(range(1, 65),
                  i -> (e[CAST(i AS INT)] - qe[CAST(i AS INT)])
                     * (e[CAST(i AS INT)] - qe[CAST(i AS INT)])),
                  (a, v) -> a + v) AS d2
         FROM eq, probes WHERE vec_id <> q_id),
       truth AS (
         SELECT q_id, vec_id FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
                       ORDER BY d2, vec_id) AS rank_no
           FROM brute) WHERE rank_no <= 5),
       hit AS (
         SELECT t.q_id, t.vec_id FROM truth t
         WHERE EXISTS (SELECT 1 FROM pq_top p
                       WHERE p.q_id = t.q_id AND p.vec_id = t.vec_id))
       SELECT (SELECT count(*) FROM truth) AS n_true,
              (SELECT count(*) FROM hit) AS n_hit,
              CASE WHEN (SELECT count(*) FROM truth) > 0
                THEN ((1000000 * (SELECT count(*) FROM hit))
                      + ((SELECT count(*) FROM truth) // 2))
                     // (SELECT count(*) FROM truth)
                ELSE 1000000 END AS recall_ppm""")
  )
}
