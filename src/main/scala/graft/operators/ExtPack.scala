package graft.operators

import graft.{QueryPack, Tables => T}
import graft.ext.{Multimodal, MinHashLSH, TextOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators (north star; SURVEY.md §7.1 ext/):
  * dedup (exact-normalized, MinHash+LSH, SimHash, n-gram Jaccard),
  * similarity search (brute-force + sign-LSH), text analysis
  * (stats/quality, language-ID, token counting, fingerprinting),
  * multimodal binary columns.
  *
  * All Spark sides are narrow per-row expression pipelines feeding
  * bounded joins — see scaladocs in graft.ext for the 100 TB scaling
  * argument per operator. Oracles replicate the exact same md5-derived
  * randomness so results are bit-identical across engines.
  */
object ExtPack extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup after set-normalization (catches shuffled/repeated
    // token near-dups; plain text-hash dedup finds nothing in this data).
    "q_dedup_exact" -> ((s, d) => {
      import s.implicits._
      // unfanned: one-pass fingerprint+groupBy — the aggregation is the
      // query's own shuffle (Probe fanab, r17)
      T.documentsUnfanned(s, d)
        .groupBy(TextOps.fingerprint($"text").as("fp"))
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
    }),

    "q_text_stats" -> ((s, d) => {
      import s.implicits._
      val toks = TextOps.tokens($"text")
      val dtoks = TextOps.distinctTokens($"text")
      val nTok = size(toks)
      val sumLen = aggregate(transform(toks, t => length(t).cast("long")),
        lit(0L), (a, x) => a + x)
      T.documents(s, d).select(
        $"doc_id",
        length($"text").cast("long").as("n_chars_calc"),
        nTok.cast("long").as("n_tokens"),
        size(dtoks).cast("long").as("n_distinct"),
        (size(dtoks) / nTok.cast("double")).as("ttr"),
        (sumLen / nTok.cast("double")).as("avg_tok_len"),
        (size(filter(toks, t => array_contains(
          array(TextOps.stopwordsEn.map(lit): _*), t)))
          / nTok.cast("double")).as("stop_ratio"),
        ((length($"text") - length(regexp_replace($"text", "[^a-z0-9 ]", "")))
          / length($"text").cast("double")).as("punct_ratio"),
        (log(lit(1.0) + nTok) * (size(dtoks) / nTok.cast("double")))
          .as("quality"))
    }),

    "q_lang_id" -> ((s, d) => {
      import s.implicits._
      T.documents(s, d).select(
        $"doc_id", $"lang",
        TextOps.langGuess($"text").as("guess"))
    }),

    "q_token_count" -> ((s, d) => {
      import s.implicits._
      T.documents(s, d).select(
        $"doc_id",
        size(TextOps.tokens($"text")).cast("long").as("n_ws"),
        size(regexp_extract_all($"text", lit("[a-z]+"), lit(0)))
          .cast("long").as("n_alpha"),
        aggregate(
          transform(TextOps.tokens($"text"),
            t => ceil(length(t) / lit(4.0)).cast("long")),
          lit(0L), (a, x) => a + x).as("n_bpe_est"))
    }),

    // Benchmark decontamination: flag corpus documents sharing any
    // word 3-gram with a (small) benchmark set — the standard
    // train/test-overlap scrub (GPT-3 appendix C / PaLM-style n-gram
    // decontamination). The benchmark shingle set is aggregated to ONE
    // row and broadcast, so the corpus pass is map-side only: no
    // shuffle of the 100 TB side, exactly how decontamination runs at
    // scale (benchmarks are tiny, corpora are not).
    "q_decontamination" -> ((s, d) => {
      import s.implicits._
      // 3-grams via aligned slices + zip_with: zip_with arguments are
      // evaluated ONCE per row. A transform(sequence(...), i ->
      // element_at(ws, i)...) lambda holds `ws` as a free variable and
      // Catalyst's project-collapse inlines ws = split(text) INTO the
      // lambda body, re-running split() per element (~900x per row
      // here) — measured 10x slower on this query.
      val n3 = "greatest(size(ws)-2, 0)"
      val shingles = expr(
        s"zip_with(zip_with(slice(ws, 1, $n3), slice(ws, 2, $n3), " +
        s"(a, b) -> concat(a, ' ', b)), slice(ws, 3, $n3), " +
        "(ab, c) -> concat(ab, ' ', c))")
      val withSh = T.documents(s, d)
        .withColumn("ws", TextOps.tokens($"text"))
        .withColumn("sh", shingles)
      val bench = withSh.filter($"doc_id" < 5)
        .select(explode($"sh").as("s")).distinct()
        .agg(collect_set($"s").as("bs"))
      val overlap = size(array_intersect(array_distinct($"sh"), $"bs"))
      withSh.filter($"doc_id" >= 5)
        .crossJoin(broadcast(bench))
        .select($"doc_id",
          overlap.cast("long").as("n_contaminated"),
          (overlap > 0).as("contaminated"))
    }),

    // Sliding-window chunking: fixed 32-token chunks at stride 24
    // (8-token overlap) — the standard training-data prep step before
    // tokenization/packing. Pure per-row HOFs + posexplode: linear,
    // no shuffle, partition-parallel at 100 TB.
    "q_chunking" -> ((s, d) => {
      import s.implicits._
      val sz = 32; val stride = 24
      val base = T.documents(s, d)
        .withColumn("ws", TextOps.tokens($"text"))
        .withColumn("nch",
          when(size($"ws") <= sz, lit(1)).otherwise(
            ceil((size($"ws") - sz) / lit(stride.toDouble)).cast("int") + 1))
        .withColumn("chunks", expr(
          s"transform(sequence(0, nch-1), i -> array_join(slice(ws, i*$stride+1, $sz), ' '))"))
      base.select($"doc_id", size($"ws").as("nw"),
          posexplode($"chunks").as(Seq("chunk_no", "chunk_text")))
        .select($"doc_id", $"chunk_no".cast("long").as("chunk_no"),
          $"chunk_text",
          least($"nw" - $"chunk_no" * stride, lit(sz)).cast("long").as("n_tokens"))
    }),

    // Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    // duplicate-word fraction, duplicate-bigram fraction, and the share
    // of the most frequent word. Dup fractions are per-row HOFs (no
    // shuffle); top-word share is one explode+groupBy — linear and
    // partition-parallel at 100 TB.
    "q_quality_repetition" -> ((s, d) => {
      import s.implicits._
      // bigrams via zip_with over aligned slices — see q_decontamination
      // for why element_at-in-lambda is a per-element split() trap
      val base = T.documents(s, d)
        .withColumn("ws", TextOps.tokens($"text"))
        .withColumn("bg", expr(
          "zip_with(slice(ws, 1, greatest(size(ws)-1, 0)), " +
          "slice(ws, 2, greatest(size(ws)-1, 0)), " +
          "(a, b) -> concat(a, ' ', b))"))
      val perDoc = base.select(
        $"doc_id",
        ((size($"ws") - size(array_distinct($"ws")))
          / size($"ws").cast("double")).as("dup_word_frac"),
        when(size($"bg") > 0,
          (size($"bg") - size(array_distinct($"bg")))
            / size($"bg").cast("double"))
          .otherwise(lit(0.0)).as("dup_bigram_frac"))
      val top = base.select($"doc_id", explode($"ws").as("w"))
        .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg((max($"c") / sum($"c").cast("double")).as("top_word_frac"))
      perDoc.join(top, Seq("doc_id"))
        .select($"doc_id", $"dup_word_frac", $"dup_bigram_frac",
          $"top_word_frac")
    }),

    "q_fingerprint" -> ((s, d) => {
      import s.implicits._
      T.documents(s, d).select(
        $"doc_id",
        TextOps.fingerprint($"text").as("fp"),
        TextOps.simhash16($"text").as("sh"))
    }),

    // MinHash + LSH dedup: per-doc cluster representative via band
    // buckets (linear; see MinHashLSH.dedupByLSH scaladoc). The
    // pairwise exact-Jaccard variant (nearDuplicates) is spec-tested at
    // small scale — this corpus has O(n^2) true near-dup pairs, so the
    // pairs form is the wrong operator shape for the bench path.
    "q_minhash_lsh" -> ((s, d) =>
      // unfanned (Probe fanab, r17): the banding window shuffles by
      // (band, bkey) immediately after the signature projection
      MinHashLSH.dedupByLSH(T.documentsUnfanned(s, d), "doc_id", "text",
        numHashes = 16, bands = 4)),

    // n-gram (word-bigram) Jaccard near-dup pairs within each source,
    // via prefix filtering (see JaccardJoin: identical result to the
    // quadratic inverted-index join, but hot grams never generate
    // candidates).
    "q_ngram_jaccard" -> ((s, d) => {
      import s.implicits._
      val docs = T.documents(s, d)
        .select($"doc_id", $"source",
          TextOps.shingles($"text", 2).as("grams"))
      graft.ext.JaccardJoin.selfJoin(docs, "doc_id", "source", "grams", 0.6)
    }),

    // SimHash near-dup candidates: same-source pairs within Hamming
    // distance 3 on the 16-bit sketch. Candidates come from pigeonhole
    // banding (4x4-bit bands; see TextOps.simhashBandPairs), verified by
    // the native HammingDistance expression (real doGenCode) — same
    // result as all-pairs, no O(n^2)-per-source enumeration.
    "q_simhash_pairs" -> ((s, d) => {
      import s.implicits._
      // pin (not persist): the sketch feeds both sides of the band
      // join; Materialize.pin evaluates it once and the blocks are
      // GC-reclaimed instead of leaking until session end
      val sh = graft.ext.Materialize.pin(
        T.documents(s, d).select($"doc_id", $"source",
          graft.ext.TextOps.simhash16($"text").as("sh")))
      TextOps.simhashBandPairs(sh, "doc_id", "source", "sh",
        bits = 16, bands = 4, maxHd = 3)
    }),

    // Brute-force cosine top-5 neighbors for the first 10 vectors.
    // Ranking uses micro-quantized similarity (round(sim*1e6) as
    // BIGINT — same grid as round(sim, 6)) so float summation-order
    // differences can never flip an order across engines (ties then
    // break on vec_id), and the OUTPUT cell is an integer immune to
    // round-implementation/formatting divergence (floatsweep r5).
    "q_embedding_topk" -> ((s, d) => {
      import s.implicits._
      val emb = T.embeddings(s, d)
      val c = emb.select($"vec_id", $"embedding".cast("array<double>").as("e"))
        .withColumn("en", VectorOps.l2norm($"e")) // once per row, not per probe
      val q = emb.filter($"vec_id" < 10).select(
          $"vec_id".as("q_id"), $"embedding".cast("array<double>").as("qe"))
        .withColumn("qn", VectorOps.l2norm($"qe"))
      val scored = c.join(broadcast(q), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          round(VectorOps.cosinePre($"qe", $"qn", $"e", $"en") * 1e6)
            .cast("long").as("sim_micro"))
      TopN(scored, Seq($"q_id"), Seq($"sim_micro".desc, $"vec_id".asc), 5)
        .select($"q_id", $"vec_id", $"sim_micro", $"rank_no")
    }),

    // Embedding-cosine near-dup dedup (rep-assignment over multi-table
    // OR-amplified LSH candidates: 8 planes x 4 tables keeps every cell
    // small while holding recall; threshold tuned to this corpus's
    // density — max pair cosine is 0.51, so 0.4 marks the closest-pair
    // tail).
    "q_embedding_dedup" -> ((s, d) =>
      VectorOps.cosineDedup(T.embeddings(s, d), threshold = 0.4,
        planes = 8, tables = 4)),

    // IVF ANN, multi-assigned: 64 sign-LSH seed cells (the `label`
    // column is NOT geometric in this data — 8% neighbor affinity — so
    // cells come from the vectors themselves), one Lloyd refinement
    // round, each vector in its 3 nearest posting lists, probes search
    // their 5 nearest cells. Measured recall@5 vs brute force: 0.76
    // while scanning ~21% of the corpus (q_ivf_recall measures it
    // in-pipeline) — vs 0.54 at 25% for the previous single-assignment
    // quantizer; see VectorOps.ivfCandidatesMulti for why redundancy,
    // not more Lloyd rounds, is the recall lever on near-isotropic
    // vectors.
    "q_embedding_ivf" -> ((s, d) => {
      import s.implicits._
      // SIZED width (r17): full-width fan lost (r16 Finding 4 measured
      // 32-wide at 1.54 vs unfanned 1.16 — every light reference paid
      // the exchange), but fully UNFANNED serializes the router/ADC
      // scans onto one task (Probe jobs, r17: every stage 1-task, two
      // ~0.2 s serial compute jobs). One size-derived exchange
      // (~2 MB/partition, the FanOut.fanOutSized class) is the middle
      // that wins both ways and stays scale-adaptive.
      val emb = graft.ext.FanOut
        .fanOutSized(T.embeddingsUnfanned(s, d), $"vec_id")
        .withColumn("cell", VectorOps.lshBucket($"embedding", planes = 6, dims = 64))
      VectorOps.ivfTopKMulti(emb, emb.filter($"vec_id" < 10), "cell",
        rounds = 1, a = 3, nProbe = 5, k = 5)
    }),

    // In-pipeline IVF quality report: recall@5 of q_embedding_ivf's
    // exact configuration against brute-force truth, plus the fraction
    // of the corpus its candidate set actually scanned — the
    // recall/cost trade-off every ANN deployment must monitor (same
    // reporting shape as q_lsh_recall).
    "q_ivf_recall" -> ((s, d) => {
      import s.implicits._
      import graft.operators.TopN
      // unfanned: see Tables.embeddingsUnfanned (r16 Finding 4). The
      // r17 sized-width middle ground was A/B'd here too and came out
      // flat-to-negative (−0.06 s same-JVM; q_ivf_recall's extra
      // truth/count references cancel the parallel win that sized
      // width buys q_embedding_ivf), so this query keeps the plain
      // unfanned read.
      val emb = T.embeddingsUnfanned(s, d)
        .withColumn("cell", VectorOps.lshBucket($"embedding", planes = 6, dims = 64))
      val probes = emb.filter($"vec_id" < 10)
      // truth via round-6 ordering (like q_embedding_topk), so the
      // DuckDB oracle reproduces the exact same neighbor sets
      val c = emb.select($"vec_id", $"embedding".cast("array<double>").as("e2"))
        .withColumn("en2", VectorOps.l2norm($"e2"))
      val qp = probes.select($"vec_id".as("q_id"),
          $"embedding".cast("array<double>").as("qe2"))
        .withColumn("qn2", VectorOps.l2norm($"qe2"))
      // pin: truth and the candidate set each feed two consumers
      // (hits + the count aggregates) — without it the brute-force
      // scan and the whole IVF pipeline would run twice
      val truth = graft.ext.Materialize.pin(TopN(
        c.join(broadcast(qp), $"vec_id" =!= $"q_id")
          .select($"q_id", $"vec_id",
            round(VectorOps.cosinePre($"qe2", $"qn2", $"e2", $"en2"), 6)
              .as("tsim")),
        Seq($"q_id"), Seq($"tsim".desc, $"vec_id".asc), 5)
        .select($"q_id", $"vec_id"))
      val cand = graft.ext.Materialize.pin(
        VectorOps.ivfCandidatesMulti(emb, probes, "cell",
          rounds = 1, a = 3, nProbe = 5))
      val scored = cand.select($"q_id", $"vec_id",
        round(VectorOps.cosinePre($"qe", $"qn", $"e", $"en"), 6).as("sim"))
      val got = TopN(scored, Seq($"q_id"), Seq($"sim".desc, $"vec_id".asc), 5)
        .select($"q_id", $"vec_id")
      val hits = truth.join(got, Seq("q_id", "vec_id"), "left_semi")
      // ratios emitted as integer ppm via pure BIGINT arithmetic
      // (floatsweep r5: round(double,6) outputs are oracle-build
      // sensitive; integers are exact in any engine)
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .crossJoin(cand.agg(count(lit(1)).as("n_scanned")))
        .crossJoin(emb.agg(count(lit(1)).as("n_corpus")))
        .crossJoin(probes.agg(count(lit(1)).as("n_probes")))
        .select($"n_true", $"n_hit",
          expr("((1000000 * n_hit) + (n_true div 2)) div n_true")
            .as("recall_ppm"),
          expr("""((1000000 * n_scanned) + ((n_probes * n_corpus) div 2))
                  div (n_probes * n_corpus)""").as("scan_frac_ppm"))
    }),

    // Sign-LSH bucket per vector (the ANN scale path: probe only equal
    // buckets instead of the whole corpus).
    "q_embedding_lsh" -> ((s, d) => {
      import s.implicits._
      T.embeddings(s, d).select(
        $"vec_id",
        VectorOps.lshBucket($"embedding", planes = 8, dims = 64).as("bucket"))
    }),

    // Multimodal binary-column plumbing with stubbed decode.
    "q_multimodal_meta" -> ((s, d) => {
      import s.implicits._
      val media = Multimodal.withMedia(T.documents(s, d), "text")
        .select($"doc_id", $"media").as[Multimodal.MediaRow]
      Multimodal.extractMeta(s, media).toDF()
    })
  )

  // Shared DuckDB skeleton for the multi-assigned IVF oracles
  // (q_embedding_ivf, q_ivf_recall): 64 sign-LSH seed cells -> one
  // Lloyd round -> 3-nearest posting lists, 5-probe routing, deduped
  // candidates, rounded cosine scoring — each step mirroring
  // VectorOps.kmeansAssign / ivfCandidatesMulti exactly.
  private val IvfCtes: String =
    """WITH planes AS (
         SELECT p, i,
           CASE WHEN strpos('0123456789abcdef', substr(md5(p || '_' || i), 1, 1)) - 1 >= 8
                THEN 1 ELSE -1 END AS wt
         FROM (SELECT unnest(range(0, 6)) AS p) ps,
              (SELECT unnest(range(0, 64)) AS i) dms),
       emb0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       dots AS (
         SELECT vec_id, p,
                sum(CAST(round(e[CAST(i + 1 AS INT)] * 1000) AS BIGINT) * wt) AS dt
         FROM emb0, planes GROUP BY vec_id, p),
       cells0 AS (
         SELECT vec_id,
                string_agg(CASE WHEN dt >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS cell
         FROM dots GROUP BY vec_id),
       dims AS (SELECT unnest(range(1, 65)) AS i),
       centa0 AS (SELECT c.cell, d.i, avg(e.e[CAST(d.i AS INT)]) AS cv
                  FROM emb0 e JOIN cells0 c USING (vec_id), dims d
                  GROUP BY c.cell, d.i),
       centa AS (SELECT cell, list(cv ORDER BY i) AS ce FROM centa0 GROUP BY cell),
       asg1 AS (SELECT vec_id, cell FROM (
           SELECT e.vec_id, ct.cell,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.e, ct.ce), 6) DESC,
                             ct.cell ASC) AS rn
           FROM emb0 e CROSS JOIN centa ct) WHERE rn = 1),
       centb0 AS (SELECT a.cell, d.i, avg(e.e[CAST(d.i AS INT)]) AS cv
                  FROM emb0 e JOIN asg1 a USING (vec_id), dims d
                  GROUP BY a.cell, d.i),
       centb AS (SELECT cell, list(cv ORDER BY i) AS ce FROM centb0 GROUP BY cell),
       postings AS (SELECT vec_id, cell FROM (
           SELECT e.vec_id, ct.cell,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.e, ct.ce), 6) DESC,
                             ct.cell ASC) AS rn
           FROM emb0 e CROSS JOIN centb ct) WHERE rn <= 3),
       probes AS (SELECT vec_id AS q_id, e AS qe FROM emb0 WHERE vec_id < 10),
       routed AS (SELECT q_id, cell FROM (
           SELECT p.q_id, ct.cell,
                  row_number() OVER (PARTITION BY p.q_id
                    ORDER BY round(list_cosine_similarity(p.qe, ct.ce), 6) DESC,
                             ct.cell ASC) AS rn
           FROM probes p CROSS JOIN centb ct) WHERE rn <= 5),
       cand AS (SELECT DISTINCT r.q_id, m.vec_id
                FROM routed r JOIN postings m USING (cell)
                WHERE m.vec_id <> r.q_id),
       scored AS (SELECT c.q_id, c.vec_id,
                         CAST(round(list_cosine_similarity(p.qe, e.e) * 1000000)
                              AS BIGINT) AS sim_micro
                  FROM cand c JOIN probes p USING (q_id)
                       JOIN emb0 e ON e.vec_id = c.vec_id)"""

  def oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
                min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1""",
    "q_text_stats" ->
      """SELECT doc_id,
         length(text) AS n_chars_calc,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct,
         len(list_distinct(string_split(text, ' '))) * 1.0 / len(string_split(text, ' ')) AS ttr,
         CAST(list_aggregate(list_transform(string_split(text, ' '), t -> length(t)), 'sum') AS DOUBLE)
           / len(string_split(text, ' ')) AS avg_tok_len,
         len(list_filter(string_split(text, ' '),
           t -> list_contains(['the','a','of','and','is'], t))) * 1.0
           / len(string_split(text, ' ')) AS stop_ratio,
         (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) * 1.0
           / length(text) AS punct_ratio,
         ln(1.0 + len(string_split(text, ' ')))
           * (len(list_distinct(string_split(text, ' '))) * 1.0 / len(string_split(text, ' '))) AS quality
         FROM documents""",
    "q_lang_id" ->
      """WITH sc AS (
           SELECT doc_id, lang,
             len(list_filter(list_distinct(string_split(text,' ')), x -> list_contains(['the','a','of','and','is'], x))) AS s_en,
             len(list_filter(list_distinct(string_split(text,' ')), x -> list_contains(['el','la','de','los','es'], x))) AS s_es,
             len(list_filter(list_distinct(string_split(text,' ')), x -> list_contains(['der','die','das','und','ist'], x))) AS s_de,
             len(list_filter(list_distinct(string_split(text,' ')), x -> list_contains(['le','la','et','les','est'], x))) AS s_fr,
             len(list_filter(list_distinct(string_split(text,' ')), x -> list_contains(['de','shi','le','zai','he'], x))) AS s_zh
           FROM documents)
         SELECT doc_id, lang,
           CASE WHEN greatest(s_en,s_es,s_de,s_fr,s_zh) = 0 THEN 'und'
                WHEN s_en = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'en'
                WHEN s_es = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'es'
                WHEN s_de = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'de'
                WHEN s_fr = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'fr'
                ELSE 'zh' END AS guess
         FROM sc""",
    "q_token_count" ->
      """SELECT doc_id,
         len(string_split(text, ' ')) AS n_ws,
         len(regexp_extract_all(text, '[a-z]+')) AS n_alpha,
         CAST(list_aggregate(list_transform(string_split(text, ' '),
           t -> CAST(ceil(length(t) / 4.0) AS BIGINT)), 'sum') AS BIGINT) AS n_bpe_est
         FROM documents""",
    "q_decontamination" ->
      """WITH ws AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (
           SELECT doc_id, list_transform(generate_series(1, len(w)-2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS s
           FROM ws),
         bench AS (
           SELECT list_distinct(flatten(list(s))) AS bs
           FROM sh WHERE doc_id < 5)
         SELECT doc_id,
           CAST(len(list_filter(list_distinct(s),
             x -> list_contains(bs, x))) AS BIGINT) AS n_contaminated,
           len(list_filter(list_distinct(s),
             x -> list_contains(bs, x))) > 0 AS contaminated
         FROM sh, bench WHERE doc_id >= 5""",
    "q_chunking" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         n AS (
           SELECT doc_id, ws,
             CASE WHEN len(ws) <= 32 THEN 1
                  ELSE CAST(ceil((len(ws) - 32) / 24.0) AS INTEGER) + 1
             END AS nch
           FROM base),
         c AS (
           SELECT doc_id, ws, len(ws) AS nw,
                  unnest(generate_series(0, nch - 1)) AS chunk_no
           FROM n)
         SELECT doc_id, CAST(chunk_no AS BIGINT) AS chunk_no,
                array_to_string(ws[chunk_no*24+1 : chunk_no*24+32], ' ')
                  AS chunk_text,
                CAST(least(nw - chunk_no*24, 32) AS BIGINT) AS n_tokens
         FROM c""",
    "q_quality_repetition" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         bgd AS (
           SELECT doc_id, ws,
                  list_transform(generate_series(1, len(ws)-1),
                    i -> ws[i] || ' ' || ws[i+1]) AS bg
           FROM base),
         perdoc AS (
           SELECT doc_id,
             CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / len(ws)
               AS dup_word_frac,
             CASE WHEN len(bg) > 0
               THEN CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg)
               ELSE 0.0 END AS dup_bigram_frac
           FROM bgd),
         w AS (SELECT doc_id, unnest(ws) AS w FROM base),
         c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
         t AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c)
                 AS top_word_frac FROM c GROUP BY doc_id)
         SELECT perdoc.doc_id, dup_word_frac, dup_bigram_frac, top_word_frac
         FROM perdoc JOIN t ON perdoc.doc_id = t.doc_id""",
    "q_fingerprint" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
           FROM documents),
         th AS (
           SELECT doc_id,
                  list_reduce(list_transform(range(1, 9),
                    i -> strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1),
                    (a, b) -> a * 16 + b) AS h
           FROM toks),
         bits AS (
           SELECT doc_id, b,
             sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM th CROSS JOIN (SELECT unnest(range(0, 16)) AS b) bs
           GROUP BY doc_id, b)
         SELECT d.doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(d.text, ' '))), ' ')) AS fp,
           (SELECT CAST(sum(CASE WHEN s > 0 THEN CAST(2 ** b AS BIGINT) ELSE 0 END) AS BIGINT)
            FROM bits WHERE bits.doc_id = d.doc_id) AS sh
         FROM documents d""",
    "q_minhash_lsh" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
           FROM documents),
         th AS (
           SELECT doc_id, tok,
                  list_reduce(list_transform(range(1, 9),
                    i -> strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1),
                    (a, b) -> a * 16 + b) AS h
           FROM toks),
         mh AS (
           SELECT doc_id, j,
                  min((h * (2*j + 1) + j * 12345 + 7) % 1000000007) AS m
           FROM th CROSS JOIN (SELECT unnest(range(0, 16)) AS j) js
           GROUP BY doc_id, j),
         bands AS (
           SELECT doc_id, j // 4 AS band,
                  md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY j)) AS bkey
           FROM mh GROUP BY doc_id, j // 4),
         bmin AS (
           SELECT band, bkey, min(doc_id) AS mid FROM bands GROUP BY 1, 2),
         rep AS (
           SELECT b.doc_id, min(m.mid) AS rep_id
           FROM bands b JOIN bmin m ON b.band = m.band AND b.bkey = m.bkey
           GROUP BY 1)
         SELECT doc_id, rep_id, rep_id < doc_id AS is_dup FROM rep""",
    "q_simhash_pairs" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
           FROM documents),
         th AS (
           SELECT doc_id,
                  list_reduce(list_transform(range(1, 9),
                    i -> strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1),
                    (a, b) -> a * 16 + b) AS h
           FROM toks),
         bits AS (
           SELECT doc_id, b,
             sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM th CROSS JOIN (SELECT unnest(range(0, 16)) AS b) bs
           GROUP BY doc_id, b),
         sh AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN CAST(2 ** b AS BIGINT) ELSE 0 END) AS BIGINT) AS sh
           FROM bits GROUP BY doc_id),
         src AS (SELECT doc_id, source FROM documents)
         SELECT a.doc_id AS id1, b.doc_id AS id2,
                CAST(bit_count(xor(sa.sh, sb.sh)) AS INT) AS hd
         FROM src a JOIN src b ON a.source = b.source AND a.doc_id < b.doc_id
         JOIN sh sa ON sa.doc_id = a.doc_id
         JOIN sh sb ON sb.doc_id = b.doc_id
         WHERE bit_count(xor(sa.sh, sb.sh)) <= 3""",
    "q_ngram_jaccard" ->
      """WITH base AS (
           SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, source,
                  w[CAST(r.i AS INT)] || ' ' || w[CAST(r.i + 1 AS INT)] AS g
           FROM base, LATERAL (SELECT unnest(range(1, len(w))) AS i) r),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
           FROM sh a JOIN sh b
             ON a.source = b.source AND a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id1, id2, i.i * 1.0 / (s1.n + s2.n - i.i) AS jaccard
         FROM inter i
         JOIN sizes s1 ON s1.doc_id = id1
         JOIN sizes s2 ON s2.doc_id = id2
         WHERE i.i * 1.0 / (s1.n + s2.n - i.i) >= 0.6""",
    "q_embedding_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
                    FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         scored AS (
           SELECT q_id, vec_id,
                  CAST(round(list_cosine_similarity(qe, e) * 1000000)
                       AS BIGINT) AS sim_micro
           FROM q, c WHERE vec_id <> q_id)
         SELECT q_id, vec_id, sim_micro, rank_no FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
                     ORDER BY sim_micro DESC, vec_id ASC) AS rank_no
           FROM scored) WHERE rank_no <= 5""",
    "q_embedding_dedup" ->
      """WITH planes AS (
           SELECT p, i,
             CASE WHEN strpos('0123456789abcdef', substr(md5(p || '_' || i), 1, 1)) - 1 >= 8
                  THEN 1 ELSE -1 END AS wt
           FROM (SELECT unnest(range(0, 32)) AS p) ps,
                (SELECT unnest(range(0, 64)) AS i) dms),
         emb0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         dots AS (
           SELECT vec_id, p,
                  sum(CAST(round(e[CAST(i + 1 AS INT)] * 1000) AS BIGINT) * wt) AS dt
           FROM emb0, planes GROUP BY vec_id, p),
         cells AS (
           SELECT vec_id, p // 8 AS tbl,
                  string_agg(CASE WHEN dt >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS cell
           FROM dots GROUP BY vec_id, p // 8),
         cand AS (
           SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
           FROM cells a JOIN cells b
             ON a.tbl = b.tbl AND a.cell = b.cell AND a.vec_id < b.vec_id),
         partners AS (
           SELECT c.id2 AS vid, min(c.id1) AS mp
           FROM cand c
           JOIN emb0 ea ON ea.vec_id = c.id1
           JOIN emb0 eb ON eb.vec_id = c.id2
           WHERE round(list_cosine_similarity(ea.e, eb.e), 6) >= 0.4
           GROUP BY c.id2)
         SELECT e.vec_id, coalesce(p.mp, e.vec_id) AS rep_id,
                coalesce(p.mp, e.vec_id) < e.vec_id AS is_dup
         FROM emb0 e LEFT JOIN partners p ON e.vec_id = p.vid""",
    "q_embedding_ivf" ->
      s"""$IvfCtes
         SELECT q_id, vec_id, sim_micro, rank_no FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
                     ORDER BY sim_micro DESC, vec_id ASC) AS rank_no FROM scored)
         WHERE rank_no <= 5""",
    "q_ivf_recall" ->
      s"""$IvfCtes,
         truth AS (SELECT q_id, vec_id FROM (
             SELECT p.q_id, e.vec_id,
                    row_number() OVER (PARTITION BY p.q_id
                      ORDER BY round(list_cosine_similarity(p.qe, e.e), 6) DESC,
                               e.vec_id ASC) AS rn
             FROM probes p JOIN emb0 e ON e.vec_id <> p.q_id) WHERE rn <= 5),
         topk AS (SELECT q_id, vec_id FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id
                       ORDER BY sim_micro DESC, vec_id ASC) AS rank_no FROM scored)
           WHERE rank_no <= 5),
         hits AS (SELECT * FROM truth t WHERE EXISTS (
             SELECT 1 FROM topk g
             WHERE g.q_id = t.q_id AND g.vec_id = t.vec_id))
         SELECT (SELECT count(*) FROM truth) AS n_true,
                (SELECT count(*) FROM hits) AS n_hit,
                CAST(((1000000 * (SELECT count(*) FROM hits))
                      + ((SELECT count(*) FROM truth) // 2))
                     // (SELECT count(*) FROM truth) AS BIGINT) AS recall_ppm,
                CAST(((1000000 * (SELECT count(*) FROM cand))
                      + (((SELECT count(*) FROM probes)
                          * (SELECT count(*) FROM emb0)) // 2))
                     // ((SELECT count(*) FROM probes)
                        * (SELECT count(*) FROM emb0)) AS BIGINT)
                  AS scan_frac_ppm""",
    "q_embedding_lsh" ->
      """WITH planes AS (
           SELECT p, i,
             CASE WHEN strpos('0123456789abcdef', substr(md5(p || '_' || i), 1, 1)) - 1 >= 8
                  THEN 1 ELSE -1 END AS wt
           FROM (SELECT unnest(range(0, 8)) AS p) ps,
                (SELECT unnest(range(0, 64)) AS i) dims),
         vecs AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         dots AS (
           SELECT vec_id, p,
                  sum(CAST(round(e[CAST(i + 1 AS INT)] * 1000) AS BIGINT) * wt) AS dt
           FROM vecs, planes GROUP BY vec_id, p)
         SELECT vec_id,
                string_agg(CASE WHEN dt >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
         FROM dots GROUP BY vec_id""",
    "q_multimodal_meta" ->
      """SELECT doc_id,
         octet_length(text::BLOB) AS n_bytes,
         sha256(text) AS sha,
         CAST(64 + (strpos('0123456789abcdef', substr(sha256(text), 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(sha256(text), 2, 1)) - 1) AS INT) AS width,
         CAST(64 + (strpos('0123456789abcdef', substr(sha256(text), 3, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(sha256(text), 4, 1)) - 1) AS INT) AS height
         FROM documents"""
  )
}
