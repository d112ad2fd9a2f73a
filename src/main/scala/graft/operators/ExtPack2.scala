package graft.operators

import graft.{QueryPack, Tables => T}
import graft.ext.{MinHashLSH, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators, part 2 (north star; SURVEY.md
  * §7.1 ext/): transitive duplicate clustering, deterministic dataset
  * splitting, stratified + weighted sampling, PII scrubbing, and
  * winnowing document fingerprints.
  *
  * Randomness is md5-derived (TextOps.tokenHash32 style) so every
  * sampling decision is bit-identical in the DuckDB oracle — the same
  * verification design as ExtPack.
  */
object ExtPack2 extends QueryPack {

  /** Absolute row budget for q_lsh_recall's exact-truth sample — the
    * ground truth is pairwise over the sample, so an absolute cap (not
    * a fraction) keeps the recall probe linear-cost at any corpus
    * size. Sized so the sf0.01 modulus matches the historical 25%
    * sample exactly. */
  private val LshRecallBudget = 128L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Transitive duplicate clusters: MinHash band buckets give
    // doc->bucket-min edges (O(n*bands), never in-bucket cliques);
    // ConnectedComponents closes them so chained near-dups (A~B~C with
    // A,C never colliding) land in ONE cluster. This is the dedup form
    // template-heavy corpora need at 100 TB: duplicate groups are
    // equivalence classes, not pairwise hits.
    "q_dedup_clusters" -> ((s, d) =>
      MinHashLSH.clusters(T.documents(s, d), "doc_id", "text",
        numHashes = 16, bands = 4)),

    // Deterministic train/valid/test split: hash the doc id, bucket
    // mod 100, 80/10/10. Hash-based splits survive corpus re-shards
    // and incremental appends (a doc's split never changes), unlike
    // positional sampling. Pure per-row expressions — no shuffle.
    "q_hash_split" -> ((s, d) => {
      import s.implicits._
      val b = TextOps.tokenHash32(concat(lit("split_"), $"doc_id")) % 100L
      // unfanned: pure per-row projection, no shuffle by design — the
      // fan-out would add the query's ONLY exchange (Probe fanab, r17)
      T.documentsUnfanned(s, d).select(
        $"doc_id",
        b.cast("long").as("bucket"),
        when(b < 80, lit("train")).when(b < 90, lit("valid"))
          .otherwise(lit("test")).as("split"))
    }),

    // Stratified sampling: per-language keep-rates applied via an
    // exact integer hash threshold (h mod 1e6 < rate_ppm). The sample
    // is deterministic, reproducible, and computed map-side — the
    // standard way to rebalance language/domain mix in a 100 TB
    // corpus without a shuffle.
    "q_stratified_sample" -> ((s, d) => {
      import s.implicits._
      val u = TextOps.tokenHash32(concat(lit("sample_"), $"doc_id")) % 1000000L
      val ratePpm = when($"lang" === "en", 500000L)
        .when($"lang" === "es", 300000L)
        .when($"lang" === "de", 200000L)
        .when($"lang" === "fr", 200000L)
        .when($"lang" === "zh", 100000L)
        .otherwise(50000L)
      // unfanned: map-side filter+project only (Probe fanab, r17)
      T.documentsUnfanned(s, d).filter(u < ratePpm)
        .select($"doc_id", $"lang")
    }),

    // Weighted sampling without replacement (Efraimidis-Spirakis):
    // top-3 docs per source by key ln(u)/w with weight w = token
    // count — longer docs are proportionally likelier. One WindowGroupLimit
    // top-k per source; the key is micro-quantized ONCE to an integer
    // (ties broken by doc_id) so neither libm ulps nor rounding
    // implementation can flip an order or a hash (floatsweep r5).
    "q_weighted_sample" -> ((s, d) => {
      import s.implicits._
      val h = TextOps.tokenHash32(concat(lit("wsample_"), $"doc_id"))
      val u = (h + 1L) / lit(4294967296.0) // (0, 1]: u=0 would send ln to -inf
      val w = size(TextOps.tokens($"text")).cast("double")
      val scored = T.documents(s, d)
        .select($"doc_id", $"source",
          round(log(u) / w * 1e6).cast("long").as("k_micro"))
      TopN(scored, Seq($"source"), Seq($"k_micro".desc, $"doc_id".asc), 3)
        .select($"source", $"doc_id", $"k_micro", $"rank_no")
    }),

    // PII scrubbing: regex redaction of emails, IPv4 addresses, and
    // phone numbers, with per-class counts. The PII-bearing text is
    // synthesized deterministically from doc_id (the corpus itself is
    // clean), so both engines scrub the exact same strings. Patterns
    // use the RE2-compatible subset (works in Spark's java.util.regex
    // and DuckDB's RE2 alike). Per-row, map-side, linear.
    "q_pii_scrub" -> ((s, d) => {
      import s.implicits._
      val pii = concat(
        lit("contact user"), $"doc_id", lit(" at user"), $"doc_id",
        lit("@mail.example.com or +1-555-"),
        lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
        lit(" ip 192.168."), ($"doc_id" % 256).cast("string"), lit("."),
        (($"doc_id" * 7) % 256).cast("string"),
        lit(" "), substring($"text", 1, 64))
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val ipRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
      val phoneRe = "\\+\\d-\\d{3}-\\d{4}"
      T.documents(s, d).select(
        $"doc_id",
        size(regexp_extract_all(pii, lit(emailRe), lit(0)))
          .cast("long").as("n_email"),
        size(regexp_extract_all(pii, lit(ipRe), lit(0)))
          .cast("long").as("n_ip"),
        size(regexp_extract_all(pii, lit(phoneRe), lit(0)))
          .cast("long").as("n_phone"),
        regexp_replace(
          regexp_replace(
            regexp_replace(pii, emailRe, "[EMAIL]"),
            ipRe, "[IP]"),
          phoneRe, "[PHONE]").as("scrubbed"))
    }),

    // Domain-mix reweighting: per-source token shares and the sampling
    // weight that moves the mix to a uniform target (weight =
    // target_share / actual_share — the DoReMi/Pile-style domain
    // balancing step). One groupBy over the corpus + a broadcast of
    // the one-row total: scales to any corpus, any source count.
    // Both ratios are emitted as integer PARTS-PER-MILLION in pure
    // BIGINT arithmetic: the round-5 floatsweep found a mix_weight
    // cell 7e-10 from a 6-decimal rounding boundary — exactly the
    // round(double,6) fragility that broke q_substring_dedup in r4.
    "q_domain_mix" -> ((s, d) => {
      import s.implicits._
      // unfanned: the immediate groupBy supersedes the fan (Probe fanab)
      val per = T.documentsUnfanned(s, d)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens($"text")).cast("long")).as("n_tokens"))
      val tot = per.agg(sum($"n_tokens").as("tot"),
        count(lit(1)).as("n_sources"))
      per.crossJoin(broadcast(tot)).select(
        $"source", $"n_docs", $"n_tokens",
        expr("((1000000 * n_tokens) + (tot div 2)) div tot")
          .as("token_share_ppm"),
        expr("""((1000000 * tot) + ((n_sources * n_tokens) div 2))
                div (n_sources * n_tokens)""").as("mix_weight_ppm"))
    }),

    // Sequence packing (concat-and-split): per source, documents are
    // concatenated in doc_id order and cut into fixed 256-token
    // context windows; each doc is tagged with the bin its first token
    // lands in and its offset there — the standard pre-tokenization
    // packing step. The running total comes from the two-phase
    // distributed prefix sum (ext/PrefixSum), NOT a per-source window:
    // a window runs ONE task per source, which dies at 100 TB with a
    // handful of sources; the prefix sum stays fully parallel.
    "q_seq_packing" -> ((s, d) => {
      import s.implicits._
      val budget = 256
      val n = size(TextOps.tokens($"text")).cast("long")
      // unfanned: narrow projection into the prefix-sum's own
      // partitioning (Probe fanab, r17)
      val base = T.documentsUnfanned(s, d)
        .select($"doc_id", $"source", n.as("n_tokens"))
      graft.ext.PrefixSum
        .cumBefore(s, base, "source", "doc_id", "n_tokens")
        .select($"doc_id", $"source", $"n_tokens",
          ($"cum_before" / budget).cast("long").as("bin"),
          ($"cum_before" % budget).as("bin_offset"))
    }),

    // Int8 scalar quantization of embeddings: per-vector min/max
    // affine codes (floor-based — floor is bit-deterministic across
    // engines, unlike round's half-way ties), plus the dequantization
    // RMSE. Per-row HOFs only; the 4x compression this models is what
    // makes billion-vector ANN indexes fit on disk at 100 TB scale.
    "q_embedding_quant" -> ((s, d) => {
      import s.implicits._
      val e = $"embedding".cast("array<double>")
      val mn = array_min(e)
      val mx = array_max(e)
      val codes = transform(e, x =>
        when(mx === mn, lit(0L)).otherwise(
          least(floor((x - mn) * 256.0 / (mx - mn)), lit(255.0)).cast("long")))
      val dq = transform(codes, q =>
        mn + (q.cast("double") + 0.5) * (mx - mn) / 256.0)
      val sqErr = aggregate(
        zip_with(e, dq, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
      T.embeddings(s, d).select(
        $"vec_id",
        // integer micro-units: raw data cells can sit arbitrarily close
        // to a 6-decimal rounding boundary (floatsweep r5 measured
        // v_min at 1.3e-9 relative), so emit round(x*1e6) as BIGINT
        round(mn * 1e6).cast("long").as("v_min_micro"),
        round(mx * 1e6).cast("long").as("v_max_micro"),
        round(sqrt(sqErr / size(e)) * 1e6).cast("long").as("rmse_micro"),
        md5(array_join(transform(codes, c => c.cast("string")), ","))
          .as("code_sketch"))
    }),

    // LSH quality measurement: recall of the MinHash band candidates
    // against exact token-set Jaccard >= 0.7 ground truth (same-source
    // pairs) — the tuning signal for numHashes/bands. Measured on a
    // deterministic hash-sample of docs bounded by an ABSOLUTE row
    // budget: recall estimation needs a sample, not the corpus (exact
    // ground truth is inherently quadratic in duplicate-cluster
    // sizes), a count-derived modulus keeps the sample ~LshRecallBudget
    // rows at ANY SF (at sf0.01's 500 docs the modulus is 4 — the old
    // 25% sample — so the measured recall is unchanged), and the hash
    // keeps the subset reproducible across engines and runs.
    "q_lsh_recall" -> ((s, d) => {
      import s.implicits._
      val docsAll = T.documents(s, d)
      val m = graft.ext.SampleBudget.modulus(docsAll.count(), LshRecallBudget)
      val sampled = docsAll
        .filter(TextOps.tokenHash32(concat(lit("recall_"), $"doc_id"))
          % m === 0)
      val docs = sampled
        .select($"doc_id", $"source",
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
      val detected = truth.join(cand, Seq("id1", "id2"), "left_semi")
      truth.agg(count(lit(1)).as("n_true")).crossJoin(
          detected.agg(count(lit(1)).as("n_detected")))
        .select($"n_true", $"n_detected",
          when($"n_true" > 0,
            expr("((1000000 * n_detected) + (n_true div 2)) div n_true"))
            .otherwise(lit(1000000L)).as("recall_ppm"))
    }),

    // Canonical Broder shingle-MinHash dedup: signatures over distinct
    // word 3-shingles instead of the token set — order-SENSITIVE, so
    // shuffled-token near-dups separate while true copied passages
    // still collide. Same banded rep-assignment scale shape as
    // q_minhash_lsh (O(n*bands), no pair output).
    "q_minhash_shingled" -> ((s, d) => {
      import s.implicits._
      MinHashLSH.dedupByLSHOf(T.documents(s, d), "doc_id",
        TextOps.minhashOf(TextOps.shingles($"text", 3), 16),
        numHashes = 16, bands = 4)
    }),

    // Incremental dedup: new-crawl docs (delta, doc_id >= 100) checked
    // against the EXISTING corpus (base, doc_id < 100) only — the
    // asymmetric shape incremental pipelines need at 100 TB: the base
    // side's band signatures are computed once (in production: stored),
    // delta-vs-delta pairs are not emitted, and each new doc reports
    // the smallest base doc it collides with (or null = genuinely new).
    "q_incremental_dedup" -> ((s, d) => {
      import s.implicits._
      // pin (not persist): the banded signatures feed both the delta and
      // base sides; blocks are GC-reclaimed, no session-long cache leak
      val sig = graft.ext.Materialize.pin(
        T.documents(s, d).select($"doc_id",
          posexplode(TextOps.bandKeys(
            TextOps.minhashSignature($"text", 16), 4, 4))
            .as(Seq("band", "bkey"))))
      val delta = sig.filter($"doc_id" >= 100)
      val base = sig.filter($"doc_id" < 100)
      val m = delta.as("d").join(base.as("b"), Seq("band", "bkey"))
        .groupBy($"d.doc_id").agg(min($"b.doc_id").as("dup_of"))
      T.documents(s, d).filter($"doc_id" >= 100).select($"doc_id")
        .join(m, Seq("doc_id"), "left")
        .select($"doc_id", $"dup_of", $"dup_of".isNotNull.as("is_dup"))
    }),

    // Filter funnel: per-stage survivor counts of the cumulative
    // cleaning pipeline (length gate -> +language gate -> +type-token
    // quality gate) — the observability report every corpus-cleaning
    // run ships with. ONE pass, conditional aggregates, no shuffle
    // beyond the final single-row reduce.
    "q_filter_funnel" -> ((s, d) => {
      import s.implicits._
      val toks = TextOps.tokens($"text")
      val nTok = size(toks)
      val ttr = size(array_distinct(toks)) / nTok.cast("double")
      val f1 = nTok >= 30
      val f2 = f1 && $"lang" === "en"
      val f3 = f2 && ttr >= lit(0.5)
      T.documents(s, d).agg(
        count(lit(1)).as("n_total"),
        sum(f1.cast("long")).as("n_len"),
        sum(f2.cast("long")).as("n_len_lang"),
        sum(f3.cast("long")).as("n_len_lang_qual"))
    }),

    // Multimodal frame sampling: the video-column path — every 4th
    // frame of a fake (bytes/16)-frame clip, with a deterministic stub
    // digest per frame (no codecs in this container; the plumbing —
    // per-partition batch shape, frame fan-out, schema — is real).
    "q_multimodal_frames" -> ((s, d) => {
      import s.implicits._
      val media = graft.ext.Multimodal
        .withMedia(T.documents(s, d), "text")
        .select($"doc_id", $"media").as[graft.ext.Multimodal.MediaRow]
      graft.ext.Multimodal.sampleFrames(s, media, every = 4).toDF()
    }),

    // Multimodal audio windowing: the audio-column path — the payload
    // cut into 400-sample (25 ms @ 16 kHz) windows with a
    // deterministic stub energy per window (no audio codecs in this
    // container; the plumbing — window fan-out, per-window feature
    // schema, codegen'd linear pipeline — is real).
    "q_multimodal_audio" -> ((s, d) =>
      graft.ext.Multimodal.audioWindows(
        T.documents(s, d).select(col("doc_id"), col("text")), "text")),

    // Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    // the MOSS algorithm): hash every word 3-gram, slide a window of 4
    // hashes, keep each window's minimum. Guarantees any shared run of
    // >= 6 tokens between two docs shares a fingerprint, at ~1/4 the
    // hashes. Emitted as a canonical scalar sketch (md5 over the
    // sorted selection) + count. Pure per-row HOFs — no shuffle.
    "q_winnowing" -> ((s, d) => {
      import s.implicits._
      // 3-grams via aligned slices + zip_with (per-element free-var
      // re-evaluation trap — see q_decontamination)
      val n3 = "greatest(size(ws)-2, 0)"
      val shingles = expr(
        s"zip_with(zip_with(slice(ws, 1, $n3), slice(ws, 2, $n3), " +
        s"(a, b) -> concat(a, ' ', b)), slice(ws, 3, $n3), " +
        "(ab, c) -> concat(ab, ' ', c))")
      val k = "greatest(size(hs)-3, 0)"
      val wins = expr(
        s"zip_with(zip_with(zip_with(slice(hs, 1, $k), slice(hs, 2, $k), " +
        s"(a, b) -> least(a, b)), slice(hs, 3, $k), " +
        s"(ab, c) -> least(ab, c)), slice(hs, 4, $k), " +
        "(abc, e) -> least(abc, e))")
      val base = T.documents(s, d)
        .withColumn("ws", TextOps.tokens($"text"))
        .withColumn("hs", transform(shingles, g => TextOps.tokenHash32(g)))
      val sel = when(size($"hs") >= 4, wins)
        .when(size($"hs") > 0, array(array_min($"hs")))
        .otherwise(array().cast("array<bigint>"))
      base.select(
        $"doc_id",
        size(array_distinct(sel)).cast("long").as("n_fp"),
        md5(array_join(
          transform(array_sort(array_distinct(sel)), x => x.cast("string")),
          ",")).as("fp_sketch"))
    })
  )

  def oracle: Map[String, String] = Map(
    "q_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
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
         edges AS (
           SELECT DISTINCT b.doc_id AS a, m.mid AS b
           FROM bands b JOIN bmin m ON b.band = m.band AND b.bkey = m.bkey
           WHERE m.mid <> b.doc_id),
         sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
         cc AS (
           SELECT doc_id AS node, doc_id AS lbl FROM documents
           UNION
           SELECT s.a AS node, c.lbl AS lbl FROM sym s JOIN cc c ON c.node = s.b)
         SELECT node AS doc_id, min(lbl) AS cluster_id,
                min(lbl) < node AS is_dup
         FROM cc GROUP BY node""",
    "q_hash_split" ->
      """WITH h AS (
           SELECT doc_id,
                  list_reduce(list_transform(range(1, 9),
                    i -> strpos('0123456789abcdef',
                                substr(md5('split_' || doc_id), i, 1)) - 1),
                    (a, b) -> a * 16 + b) % 100 AS bucket
           FROM documents)
         SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
                CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'valid'
                     ELSE 'test' END AS split
         FROM h""",
    "q_stratified_sample" ->
      """WITH h AS (
           SELECT doc_id, lang,
                  list_reduce(list_transform(range(1, 9),
                    i -> strpos('0123456789abcdef',
                                substr(md5('sample_' || doc_id), i, 1)) - 1),
                    (a, b) -> a * 16 + b) % 1000000 AS u
           FROM documents)
         SELECT doc_id, lang FROM h
         WHERE u < CASE lang WHEN 'en' THEN 500000 WHEN 'es' THEN 300000
                             WHEN 'de' THEN 200000 WHEN 'fr' THEN 200000
                             WHEN 'zh' THEN 100000 ELSE 50000 END""",
    "q_domain_mix" ->
      """WITH per AS (
           SELECT source, count(*) AS n_docs,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
                        count(*) AS n_sources FROM per)
         SELECT source, n_docs, n_tokens,
                CAST(((1000000 * n_tokens) + (tot // 2)) // tot AS BIGINT)
                  AS token_share_ppm,
                CAST(((1000000 * tot) + ((n_sources * n_tokens) // 2))
                     // (n_sources * n_tokens) AS BIGINT) AS mix_weight_ppm
         FROM per, tot""",
    "q_seq_packing" ->
      """SELECT doc_id, source,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(cum_before // 256 AS BIGINT) AS bin,
                CAST(cum_before % 256 AS BIGINT) AS bin_offset
         FROM (
           SELECT doc_id, source, text,
                  coalesce(sum(len(string_split(text, ' '))) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS cum_before
           FROM documents)""",
    "q_embedding_quant" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         mm AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM v),
         c AS (SELECT vec_id, e, mn, mx,
                 list_transform(e, x -> CASE WHEN mx = mn THEN 0
                   ELSE CAST(least(floor((x - mn) * 256.0 / (mx - mn)), 255.0)
                        AS BIGINT) END) AS codes
               FROM mm),
         dd AS (SELECT vec_id, e, mn, mx, codes,
                 list_transform(codes, q -> mn + (q + 0.5) * (mx - mn) / 256.0) AS dq
               FROM c)
         SELECT vec_id,
                CAST(round(mn * 1000000) AS BIGINT) AS v_min_micro,
                CAST(round(mx * 1000000) AS BIGINT) AS v_max_micro,
                CAST(round(sqrt(list_aggregate(
                  list_transform(generate_series(1, len(e)),
                    i -> (e[i] - dq[i]) * (e[i] - dq[i])), 'sum') / len(e))
                  * 1000000) AS BIGINT) AS rmse_micro,
                md5(array_to_string(codes, ',')) AS code_sketch
         FROM dd""",
    "q_weighted_sample" ->
      """WITH scored AS (
           SELECT source, doc_id,
                  CAST(round(ln((list_reduce(list_transform(range(1, 9),
                    i -> strpos('0123456789abcdef',
                                substr(md5('wsample_' || doc_id), i, 1)) - 1),
                    (a, b) -> a * 16 + b) + 1) / 4294967296.0)
                    / len(string_split(text, ' ')) * 1000000) AS BIGINT) AS k_micro
           FROM documents)
         SELECT source, doc_id, k_micro, rank_no FROM (
           SELECT *, row_number() OVER (PARTITION BY source
                     ORDER BY k_micro DESC, doc_id ASC) AS rank_no
           FROM scored) WHERE rank_no <= 3""",
    "q_pii_scrub" ->
      """WITH p AS (
           SELECT doc_id,
                  'contact user' || doc_id || ' at user' || doc_id ||
                  '@mail.example.com or +1-555-' ||
                  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
                  ' ip 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
                  CAST((doc_id * 7) % 256 AS VARCHAR) ||
                  ' ' || substr(text, 1, 64) AS pii
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(pii,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(pii,
             '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(pii,
             '\+\d-\d{3}-\d{4}')) AS BIGINT) AS n_phone,
           regexp_replace(regexp_replace(regexp_replace(pii,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
             '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '[IP]', 'g'),
             '\+\d-\d{3}-\d{4}', '[PHONE]', 'g') AS scrubbed
         FROM p""",
    "q_lsh_recall" ->
      s"""WITH sampled AS (
           SELECT * FROM documents
           WHERE list_reduce(list_transform(range(1, 9),
                   i -> strpos('0123456789abcdef',
                               substr(md5('recall_' || doc_id), i, 1)) - 1),
                   (a, b) -> a * 16 + b)
                 % (SELECT greatest(1, (count(*) + ${LshRecallBudget - 1})
                                       // $LshRecallBudget)
                    FROM documents) = 0),
         tk AS (
           SELECT DISTINCT doc_id, source,
                  unnest(list_distinct(string_split(text, ' '))) AS tok
           FROM sampled),
         sizes AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
           FROM tk a JOIN tk b
             ON a.source = b.source AND a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         truth AS (
           SELECT id1, id2 FROM inter
           JOIN sizes s1 ON s1.doc_id = id1
           JOIN sizes s2 ON s2.doc_id = id2
           WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.7),
         th AS (
           SELECT doc_id, tok,
                  list_reduce(list_transform(range(1, 9),
                    i -> strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1),
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
         det AS (
           SELECT t.id1, t.id2 FROM truth t
           WHERE EXISTS (SELECT 1 FROM cand c
                         WHERE c.id1 = t.id1 AND c.id2 = t.id2))
         SELECT (SELECT count(*) FROM truth) AS n_true,
                (SELECT count(*) FROM det) AS n_detected,
                CAST(CASE WHEN (SELECT count(*) FROM truth) > 0
                     THEN ((1000000 * (SELECT count(*) FROM det))
                           + ((SELECT count(*) FROM truth) // 2))
                          // (SELECT count(*) FROM truth)
                     ELSE 1000000 END AS BIGINT) AS recall_ppm""",
    "q_minhash_shingled" ->
      """WITH ws AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         toks AS (
           SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    generate_series(1, len(w)-2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS tok
           FROM ws),
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
         SELECT d.doc_id, coalesce(r.rep_id, d.doc_id) AS rep_id,
                coalesce(r.rep_id, d.doc_id) < d.doc_id AS is_dup
         FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id""",
    "q_incremental_dedup" ->
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
         m AS (
           SELECT d.doc_id, min(b.doc_id) AS dup_of
           FROM bands d JOIN bands b
             ON d.band = b.band AND d.bkey = b.bkey
           WHERE d.doc_id >= 100 AND b.doc_id < 100
           GROUP BY d.doc_id)
         SELECT n.doc_id, m.dup_of, m.dup_of IS NOT NULL AS is_dup
         FROM (SELECT doc_id FROM documents WHERE doc_id >= 100) n
         LEFT JOIN m ON n.doc_id = m.doc_id""",
    "q_filter_funnel" ->
      """SELECT count(*) AS n_total,
                CAST(sum(CASE WHEN len(string_split(text, ' ')) >= 30
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
                CAST(sum(CASE WHEN len(string_split(text, ' ')) >= 30
                              AND lang = 'en'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_len_lang,
                CAST(sum(CASE WHEN len(string_split(text, ' ')) >= 30
                              AND lang = 'en'
                              AND len(list_distinct(string_split(text, ' ')))
                                  * 1.0 / len(string_split(text, ' ')) >= 0.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_len_lang_qual
         FROM documents""",
    "q_multimodal_frames" ->
      """WITH f AS (
           SELECT doc_id, text,
                  greatest(octet_length(text::BLOB) // 16, 1) AS n_frames
           FROM documents)
         SELECT doc_id, CAST(r.fn AS BIGINT) AS frame_no,
                sha256(text || '#' || r.fn) AS frame_sha
         FROM f, LATERAL (SELECT unnest(range(0, n_frames, 4)) AS fn) r""",
    "q_multimodal_audio" ->
      """WITH a AS (
           SELECT doc_id, text,
                  greatest((length(text) + 399) // 400, 1) AS n_wins
           FROM documents)
         SELECT doc_id, CAST(r.wn AS BIGINT) AS win_no,
                CAST(length(substring(text, CAST(r.wn * 400 + 1 AS INT),
                                      400)) AS BIGINT) AS win_len,
                CAST(('0x' || substr(sha256(substring(text,
                       CAST(r.wn * 400 + 1 AS INT), 400)), 1, 8))
                     AS BIGINT) AS energy_stub
         FROM a, LATERAL (SELECT unnest(range(0, n_wins)) AS wn) r""",
    "q_winnowing" ->
      """WITH ws AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         g3 AS (
           SELECT doc_id, list_transform(generate_series(1, len(w)-2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS sh
           FROM ws),
         hs AS (
           SELECT doc_id, list_transform(sh,
                    g -> list_reduce(list_transform(range(1, 9),
                      i -> strpos('0123456789abcdef', substr(md5(g), i, 1)) - 1),
                      (a, b) -> a * 16 + b)) AS h
           FROM g3),
         sel AS (
           SELECT doc_id,
                  CASE WHEN len(h) >= 4
                       THEN list_transform(generate_series(1, len(h)-3),
                              i -> least(h[i], h[i+1], h[i+2], h[i+3]))
                       WHEN len(h) > 0 THEN [list_min(h)]
                       ELSE [] END AS s
           FROM hs)
         SELECT doc_id,
                CAST(len(list_distinct(s)) AS BIGINT) AS n_fp,
                md5(array_to_string(list_sort(list_distinct(s)), ',')) AS fp_sketch
         FROM sel"""
  )
}
