package graft.operators

import graft.{QueryPack, Tables => T}
import graft.ext.{LineDedup, PrefixSum, TextOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators, part 4 (north star; SURVEY.md
  * §7.1 ext/): C4-style global line-level dedup with document
  * reconstruction, DSIR hashed-n-gram importance weighting, and
  * deterministic epoch shuffle / shard assignment.
  *
  * Same verification design as ExtPack..ExtPack3: every query is
  * bit-reproducible in DuckDB (md5-derived hashes, integer-exact
  * summation where float order could drift, total orderings), and
  * every shape is linear — no per-group cross products, no windows
  * over few-partition groups.
  */
object ExtPack4 extends QueryPack {

  /** Tokens-per-line for the synthesized line boundaries (the corpus
    * is single-space tokens with no newlines, so "lines" are fixed
    * 10-token chunks — the same granularity C4 dedups at via real
    * newlines). */
  private val lineW = 10

  /** Absolute row budget for q_semdedup_recall's exact-truth sample.
    * The truth set is all-pairs over the sample, so this bounds the
    * pairwise work at ~budget² rows at ANY corpus size (a fractional
    * sample would be quadratic in the corpus). Sized so the sf0.01
    * modulus matches the historical 50% sample exactly. */
  private val SemRecallBudget = 256L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C4-style global line dedup + document reconstruction — see
    // [[graft.ext.LineDedup]] for the algorithm and 100 TB shape.
    "q_line_dedup" -> ((s, d) =>
      LineDedup.dedup(T.documents(s, d), "doc_id", "text", lineW)),

    // DSIR importance weights (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score each raw-pool
    // document by how target-like its hashed-bigram distribution is,
    // log w(doc) = sum over bigrams of ln(p_target(bucket) /
    // p_raw(bucket)) with add-1 smoothing over 256 buckets. The target
    // here is the lang='en' slice; the raw pool is the whole corpus.
    // Cross-engine determinism: the per-bucket log-ratio is rounded to
    // integer MICRO-nats once (256 rows), and each doc sums BIGINTs —
    // exact under any aggregation order, unlike a float sum. Scale
    // shape: two linear aggs build the 256-row bucket table (hot
    // buckets collapse map-side), the table rides a broadcast join,
    // and the per-doc agg is linear — nothing quadratic anywhere.
    "q_dsir" -> ((s, d) => {
      import s.implicits._
      val toks = TextOps.tokens($"text")
      val bigrams = when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>"))
      val bk = T.documents(s, d)
        .select($"doc_id", $"lang", explode(bigrams).as("bg"))
        .select($"doc_id", $"lang",
          (TextOps.tokenHash32($"bg") % 256L).as("b"))
      val raw = bk.groupBy($"b").agg(count(lit(1)).as("cr"))
      val tgt = bk.filter($"lang" === "en")
        .groupBy($"b").agg(count(lit(1)).as("ct"))
      val tot = bk.agg(count(lit(1)).as("tr"),
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("tt"))
      val term = raw.join(tgt, Seq("b"), "left")
        .crossJoin(broadcast(tot))
        .select($"b",
          round(log((coalesce($"ct", lit(0L)) + 1.0) * ($"tr" + 256.0)
            / (($"cr" + 1.0) * ($"tt" + 256.0))) * 1e6)
            .cast("long").as("term_u"))
      val per = bk.join(broadcast(term), Seq("b"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum($"term_u").as("su"))
      T.documents(s, d).select($"doc_id")
        .join(per, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
          // emit the BIGINT micro-nat sum directly — su/1e6 re-rounded
          // to 6 decimals reintroduced a float output cell for nothing
          coalesce($"su", lit(0L)).as("log_weight_micronats"))
    }),

    // Deterministic epoch shuffle + shard assignment: every training
    // epoch is a seeded pseudo-random permutation of the corpus,
    // split into data-parallel reader shards with a dense position in
    // each shard. shard = h32("shard_"||id) mod 8; the within-shard
    // order key packs the 32-bit position hash with the doc id
    // (k = h32 * 2^31 + id, unique because ids are < 2^31, collision-
    // free ties). Positions come from the distributed two-phase
    // [[PrefixSum]] — NOT row_number() over 8 shard partitions, which
    // would sort n/8 rows in one task per shard at 100 TB. The rank is
    // cum_before(v=1)+1 over range-partitioned (shard, k); doc_id is
    // recovered arithmetically from k (k mod 2^31), so no join back.
    "q_epoch_shard" -> ((s, d) => {
      import s.implicits._
      // unfanned: hash projection into the prefix-sum's own range
      // partitioning (Probe fanab, r17)
      val ids = T.documentsUnfanned(s, d).select($"doc_id",
        (TextOps.tokenHash32(concat(lit("shard_"), $"doc_id")) % 8L)
          .as("shard"),
        (TextOps.tokenHash32(concat(lit("pos42_"), $"doc_id"))
          * 2147483648L + $"doc_id").as("k"))
      PrefixSum.cumBefore(s, ids.select($"shard", $"k", lit(1L).as("one")),
          "shard", "k", "one")
        .select(pmod($"k", lit(2147483648L)).as("doc_id"),
          $"shard".cast("long").as("shard"),
          ($"cum_before" + 1L).as("pos_in_shard"))
    }),

    // SemDeDup semantic dedup — see [[VectorOps.semDedup]] for the
    // algorithm and 100 TB shape (this corpus's max pair cosine is
    // 0.51, so 0.4 marks the true near-dup tail).
    "q_semdedup" -> ((s, d) =>
      VectorOps.semDedup(T.embeddings(s, d), threshold = 0.4)),

    // In-pipeline SemDeDup quality report (mirrors q_lsh_recall /
    // q_ivf_recall): dup-pair recall of the k-means clustering against
    // exact cosine >= 0.4 ground truth on a deterministic hash-sample
    // — SemDeDup can only prune a pair that lands in ONE cluster, so
    // same-cluster containment of true near-dup pairs IS the
    // algorithm's recall. The sample is bounded by an ABSOLUTE row
    // budget, not a fraction: the truth side is all-pairs over the
    // sample, so a fractional sample would grow quadratically with the
    // corpus — the modulus is derived from the corpus count so the
    // exact-pairs side stays ~SemRecallBudget rows at ANY SF (at
    // sf0.01's 500 embeddings the modulus is 2, identical to the old
    // 50% sample, so the measured recall is unchanged). The cluster
    // assignment reconstructs semDedup's exact pipeline (sign-LSH seed
    // cells + 1 Lloyd round). Ratio emitted as integer ppm (BIGINT
    // arithmetic; floatsweep r5).
    "q_semdedup_recall" -> ((s, d) => {
      import s.implicits._
      val emb = T.embeddings(s, d)
      val m = graft.ext.SampleBudget.modulus(emb.count(), SemRecallBudget)
      val se = emb
        .filter(TextOps.tokenHash32(concat(lit("semrec_"), $"vec_id"))
          % m === 0)
        .select($"vec_id", $"embedding".cast("array<double>").as("e"))
        .withColumn("en", VectorOps.l2norm($"e"))
      val truth = graft.ext.Materialize.pin(
        se.as("a").join(broadcast(se.as("b")), $"a.vec_id" < $"b.vec_id")
          .filter(round(VectorOps.cosinePre(
            $"a.e", $"a.en", $"b.e", $"b.en"), 6) >= 0.4)
          .select($"a.vec_id".as("id1"), $"b.vec_id".as("id2")))
      val cells = VectorOps.semAssignments(emb).select($"vec_id", $"cell")
      val det = truth
        .join(cells.select($"vec_id".as("id1"), $"cell".as("c1")), Seq("id1"))
        .join(cells.select($"vec_id".as("id2"), $"cell".as("c2")), Seq("id2"))
        .filter($"c1" === $"c2")
        .select($"id1", $"id2").distinct()
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(det.agg(count(lit(1)).as("n_detected")))
        .select($"n_true", $"n_detected",
          when($"n_true" > 0,
            expr("((1000000 * n_detected) + (n_true div 2)) div n_true"))
            .otherwise(lit(1000000L)).as("recall_ppm"))
    }),

    // BPE pair statistics (tokenizer-training prep): the first merge
    // step of byte-pair encoding ranks adjacent character pairs by
    // corpus frequency. The corpus collapses to its VOCABULARY first
    // (one groupBy on the token — the same skew-absorbing shape as
    // q_vocab_topk), so the pair explosion runs over |vocab| rows,
    // not |corpus| rows; pair counts then weight by word frequency.
    // Total order (count desc, pair) makes the LIMIT deterministic.
    // Count-min-sketch heavy hitters (beyond the reference: hot-token /
    // hot-key detection for 100 TB pipelines). The sketch is a FIXED
    // d x w count matrix (d=4 hash rows, w=1024 cells, md5-derived row
    // hashes): token instances fold into it with map-side partial
    // aggregation, so the shuffle moves at most d*w cells regardless
    // of corpus or vocabulary size — the communication shape that
    // makes frequency estimation viable where an exact vocab groupBy
    // would shuffle every distinct key. Estimates take min over rows;
    // CMS never under-estimates, and the `admissible` column pins that
    // invariant per hitter against the exact count. The hash family is
    // the md5 token hash, so the DuckDB oracle rebuilds the identical
    // sketch bit-for-bit.
    "q_cms_heavyhitters" -> ((s, d) => {
      import s.implicits._
      val W = 1024L
      val D = 4
      val toks = T.documents(s, d)
        .select(explode(TextOps.tokens($"text")).as("tok"))
      def cellOf(j: Int) =
        TextOps.tokenHash32(concat(lit(s"cms${j}_"), $"tok")) % W
      // one corpus pass: the d (row, cell) coordinates explode per
      // token instance (a union of d selects would rescan d times)
      val rows = toks.select(explode(array((0 until D).map(j =>
          struct(lit(j.toLong).as("j"), cellOf(j).as("cell"))): _*))
          .as("p"))
        .select($"p.j".as("j"), $"p.cell".as("cell"))
      val cms = rows.groupBy($"j", $"cell").agg(count(lit(1)).as("c"))
      val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("exact_count"))
      vocab.select($"tok", $"exact_count",
          explode(array((0 until D).map(j =>
            struct(lit(j.toLong).as("j"), cellOf(j).as("cell"))): _*))
            .as("p"))
        .select($"tok", $"exact_count", $"p.j".as("j"), $"p.cell".as("cell"))
        .join(broadcast(cms), Seq("j", "cell"))
        .groupBy($"tok", $"exact_count")
        .agg(min($"c").as("est_count"))
        .filter($"est_count" >= 100)
        .select($"tok", $"exact_count", $"est_count",
          ($"est_count" >= $"exact_count").as("admissible"))
    }),

    "q_bpe_pairs" -> ((s, d) => {
      import s.implicits._
      val vocab = T.documents(s, d)
        .select(explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("wc"))
      val pairs = vocab.filter(length($"tok") >= 2)
        .select($"wc", explode(transform(
          sequence(lit(1), length($"tok") - 1),
          i => $"tok".substr(i, lit(2)))).as("pair"))
      pairs.groupBy($"pair")
        .agg(sum($"wc").as("n_occurs"))
        .orderBy($"n_occurs".desc, $"pair".asc)
        .limit(20)
    }),

    // FUZZY decontamination: q_decontamination's exact-shingle test
    // misses REORDERED/paraphrased benchmark leakage; this flags
    // corpus docs whose token-SET MinHash signature collides with ANY
    // benchmark doc in ANY LSH band. Token sets are the reorder-robust
    // representation (this corpus's dup families are token
    // permutations); the STRICT banding (16 hashes in 2 bands of 8)
    // keeps the flag discriminative on a small shared vocabulary —
    // 8 agreeing minima need set-Jaccard near the ~0.8+ leakage tail,
    // not the ~0.5 corpus-wide baseline. Scale shape: the benchmark
    // band table is tiny (|bench| x bands rows) and rides a broadcast
    // join, so the corpus is scanned once map-side; the per-doc agg is
    // the only shuffle. Same md5-affine signature idiom as
    // q_minhash_lsh.
    "q_fuzzy_decontam" -> ((s, d) => {
      import s.implicits._
      val sig = T.documents(s, d).select($"doc_id",
        posexplode(TextOps.bandKeys(
          TextOps.minhashSignature($"text", 16), 2, 8))
          .as(Seq("band", "bkey")))
      val bench = sig.filter($"doc_id" < 5)
        .select($"band", $"bkey", $"doc_id".as("bench_id")).distinct()
      val hits = sig.filter($"doc_id" >= 5)
        .join(broadcast(bench), Seq("band", "bkey"))
        .groupBy($"doc_id")
        .agg(countDistinct($"bench_id").as("n_bench_hits"))
      T.documents(s, d).filter($"doc_id" >= 5).select($"doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_bench_hits", lit(0L)).as("n_bench_hits"),
          (coalesce($"n_bench_hits", lit(0L)) > 0).as("contaminated_fuzzy"))
    }),

    // CCNet-style n-gram LM perplexity filter (Wenzek et al. 2020,
    // "CCNet: Extracting High Quality Monolingual Datasets from Web
    // Crawl Data"): score every document by the negative log
    // likelihood of a bigram LM trained on a reference slice, the
    // standard pretraining-pipeline quality gate (keep = low
    // perplexity). The LM is Laplace-smoothed over bigram-head
    // history counts: p(w2|w1) = (c(w1 w2)+1) / (c(w1·)+V+1) with
    // V = |distinct train heads| (+1 reserves unk mass), trained on
    // the deterministic doc_id % 4 == 0 slice and scored over ALL
    // docs. Cross-engine determinism (the q_dsir micro-nat pattern):
    // the per-BIGRAM-TYPE log-prob is rounded ONCE to integer
    // micro-nats, per-doc sums are BIGINT — exact under any
    // aggregation order; the per-token average is pure integer
    // division (both operands non-negative, so Spark's `div` and
    // DuckDB's `//` agree). Scale shape: counts are linear groupBys
    // (hot bigrams collapse map-side), the term table is keyed on the
    // bigram TYPE (|distinct bigrams|, linear in corpus) and joins the
    // instance stream on a high-cardinality key, and the per-doc agg
    // is linear — nothing quadratic, no driver state, no collect.
    "q_ngram_lm_ppl" -> ((s, d) => {
      import s.implicits._
      val toks = TextOps.tokens($"text")
      val pairs = when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => struct(element_at(toks, i).as("w1"),
            concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))
              .as("bg"))))
        .otherwise(array().cast("array<struct<w1:string,bg:string>>"))
      val inst = T.documents(s, d)
        .select($"doc_id", explode(pairs).as("u"))
        .select($"doc_id", $"u.w1".as("w1"), $"u.bg".as("bg"))
      val train = inst.filter(pmod($"doc_id", lit(4L)) === 0)
      val cb = train.groupBy($"bg").agg(count(lit(1)).as("cb"))
      val cu = train.groupBy($"w1").agg(count(lit(1)).as("cu"))
      val v = train.agg(countDistinct($"w1").as("v"))
      val term = inst.select($"w1", $"bg").distinct()
        .join(cb, Seq("bg"), "left")
        .join(cu, Seq("w1"), "left")
        .crossJoin(broadcast(v))
        .select($"bg",
          round(log((coalesce($"cb", lit(0L)) + 1.0)
            / (coalesce($"cu", lit(0L)) + $"v" + 1.0)) * 1e6)
            .cast("long").as("term_u"))
      val per = inst.join(term, Seq("bg"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"), (-sum($"term_u")).as("nll"))
      T.documents(s, d).select($"doc_id")
        .join(per, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
          coalesce($"nll", lit(0L)).as("nll_micronats"),
          when(coalesce($"n_bigrams", lit(0L)) === 0, lit(0L))
            .otherwise(expr("nll div n_bigrams")).as("avg_nll_micronat"))
    })
  )

  /** Shared oracle CTE chain for the bigram-LM scores: the training
    * slice, smoothed per-bigram-type micro-nat terms, and per-doc NLL
    * sums. Consumed by q_ngram_lm_ppl here and q_ccnet_buckets
    * (ExtPack5) — one definition so the two oracles can never drift
    * apart on the same scores (the SemCtes precedent below). */
  private[operators] val PplCtes =
    """toks AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         inst AS (
           SELECT doc_id, u.w1 AS w1, u.bg AS bg
           FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(w)),
                     i -> {'w1': w[i], 'bg': w[i] || ' ' || w[i+1]})) AS u
                 FROM toks)),
         train AS (SELECT * FROM inst WHERE doc_id % 4 = 0),
         cb AS (SELECT bg, count(*) AS cb FROM train GROUP BY bg),
         cu AS (SELECT w1, count(*) AS cu FROM train GROUP BY w1),
         v AS (SELECT count(DISTINCT w1) AS v FROM train),
         term AS (
           SELECT bg,
                  CAST(round(ln((coalesce(cb, 0) + 1.0)
                    / (coalesce(cu, 0) + v + 1.0)) * 1000000) AS BIGINT)
                    AS term_u
           FROM (SELECT DISTINCT w1, bg FROM inst) ty
           LEFT JOIN cb USING (bg) LEFT JOIN cu USING (w1) CROSS JOIN v),
         per AS (
           SELECT doc_id, count(*) AS n_bigrams, -sum(term_u) AS nll
           FROM inst JOIN term USING (bg) GROUP BY doc_id)"""

  /** md5-first-8-hex-digits-as-int, the DuckDB twin of
    * [[TextOps.tokenHash32]] (same idiom as ExtPack2's q_hash_split). */
  private def h32sql(expr: String): String =
    s"""CAST(list_reduce(list_transform(range(1, 9),
          i -> strpos('0123456789abcdef', substr(md5($expr), i, 1)) - 1),
          (a, b) -> a * 16 + b) AS BIGINT)"""

  def oracle: Map[String, String] = Map(
    "q_cms_heavyhitters" ->
      s"""WITH toks AS (
           SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         js AS (SELECT unnest(range(0, 4)) AS j),
         inst AS (
           SELECT tok, j,
                  ${h32sql("'cms' || j || '_' || tok")} % 1024 AS cell
           FROM toks CROSS JOIN js),
         cms AS (SELECT j, cell, count(*) AS c FROM inst GROUP BY j, cell),
         vocab AS (
           SELECT tok, count(*) AS exact_count FROM toks GROUP BY tok),
         pr AS (
           SELECT tok, exact_count, j,
                  ${h32sql("'cms' || j || '_' || tok")} % 1024 AS cell
           FROM vocab CROSS JOIN js),
         est AS (
           SELECT tok, exact_count, CAST(min(c) AS BIGINT) AS est_count
           FROM pr JOIN cms USING (j, cell) GROUP BY tok, exact_count)
         SELECT tok, exact_count, est_count,
                est_count >= exact_count AS admissible
         FROM est WHERE est_count >= 100""",
    "q_line_dedup" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         inst AS (
           SELECT doc_id, u.pos AS pos, u.line AS line,
                  doc_id * 10000 + u.pos AS pk
           FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(w) + 1, 10),
                     i -> {'pos': CAST((i + 9) // 10 AS BIGINT),
                           'line': array_to_string(w[i:i+9], ' ')})) AS u
                 FROM toks)),
         win AS (SELECT line, min(pk) AS keep_pk FROM inst GROUP BY line),
         kept AS (
           SELECT doc_id, pos, inst.line
           FROM inst JOIN win ON inst.line = win.line AND inst.pk = win.keep_pk),
         nl AS (SELECT doc_id, count(*) AS n_lines FROM inst GROUP BY doc_id),
         per AS (
           SELECT doc_id, count(*) AS n_kept,
                  string_agg(line, ' ' ORDER BY pos) AS kept_text
           FROM kept GROUP BY doc_id)
         SELECT nl.doc_id, nl.n_lines,
                coalesce(per.n_kept, 0) AS n_kept,
                coalesce(per.kept_text, '') AS kept_text
         FROM nl LEFT JOIN per ON nl.doc_id = per.doc_id""",
    "q_dsir" ->
      s"""WITH toks AS (
           SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
         bk AS (
           SELECT doc_id, lang,
                  ${h32sql("bg")} % 256 AS b
           FROM (SELECT doc_id, lang,
                   unnest(list_transform(range(1, len(w)),
                     i -> w[i] || ' ' || w[i+1])) AS bg
                 FROM toks)),
         raw AS (SELECT b, count(*) AS cr FROM bk GROUP BY b),
         tgt AS (SELECT b, count(*) AS ct FROM bk WHERE lang = 'en' GROUP BY b),
         tot AS (SELECT count(*) AS tr,
                        sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tt
                 FROM bk),
         term AS (
           SELECT raw.b,
                  CAST(round(ln((coalesce(ct, 0) + 1.0) * (tr + 256.0)
                    / ((cr + 1.0) * (tt + 256.0))) * 1000000) AS BIGINT)
                    AS term_u
           FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot),
         per AS (
           SELECT doc_id, count(*) AS n_bigrams, sum(term_u) AS su
           FROM bk JOIN term ON bk.b = term.b GROUP BY doc_id)
         SELECT d.doc_id,
                coalesce(n_bigrams, 0) AS n_bigrams,
                CAST(coalesce(su, 0) AS BIGINT) AS log_weight_micronats
         FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""",
    "q_epoch_shard" ->
      s"""WITH h AS (
           SELECT doc_id,
                  ${h32sql("'shard_' || doc_id")} % 8 AS shard,
                  ${h32sql("'pos42_' || doc_id")} * 2147483648 + doc_id AS k
           FROM documents)
         SELECT doc_id, shard,
                row_number() OVER (PARTITION BY shard ORDER BY k)
                  AS pos_in_shard
         FROM h""",
    "q_bpe_pairs" ->
      """WITH vocab AS (
           SELECT tok, count(*) AS wc
           FROM (SELECT unnest(string_split(text, ' ')) AS tok
                 FROM documents)
           GROUP BY tok),
         pairs AS (
           SELECT wc, unnest(list_transform(range(1, length(tok)),
                    i -> substr(tok, CAST(i AS INT), 2))) AS pair
           FROM vocab WHERE length(tok) >= 2)
         SELECT pair, CAST(sum(wc) AS BIGINT) AS n_occurs
         FROM pairs GROUP BY pair
         ORDER BY n_occurs DESC, pair LIMIT 20""",
    "q_fuzzy_decontam" ->
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
           SELECT doc_id, j // 8 AS band,
                  md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY j)) AS bkey
           FROM mh GROUP BY doc_id, j // 8),
         bench AS (
           SELECT DISTINCT band, bkey, doc_id AS bench_id
           FROM bands WHERE doc_id < 5),
         hits AS (
           SELECT b.doc_id, count(DISTINCT bench_id) AS n
           FROM bands b JOIN bench USING (band, bkey)
           WHERE b.doc_id >= 5 GROUP BY 1)
         SELECT d.doc_id, coalesce(n, 0) AS n_bench_hits,
                coalesce(n, 0) > 0 AS contaminated_fuzzy
         FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
         WHERE d.doc_id >= 5""",
    // Mirrors VectorOps.lshBucket (integer-quantized plane dots) +
    // kmeansAssign(rounds = 1) exactly — the same CTE scheme the
    // q_embedding_ivf oracle uses — then the in-cluster min-partner
    // rep-assignment.
    "q_semdedup" ->
      s"""$SemCtes,
         partners AS (
           SELECT b.vec_id AS vid, min(a.vec_id) AS mp
           FROM emb0 a JOIN asgm ca ON a.vec_id = ca.vec_id
                JOIN asgm cb ON ca.cell = cb.cell
                JOIN emb0 b ON b.vec_id = cb.vec_id
           WHERE a.vec_id < b.vec_id
             AND round(list_cosine_similarity(a.e, b.e), 6) >= 0.4
           GROUP BY b.vec_id)
         SELECT g.vec_id, g.cell,
                coalesce(p.mp, g.vec_id) AS rep_id,
                coalesce(p.mp, g.vec_id) < g.vec_id AS is_dup
         FROM asg1 g LEFT JOIN partners p ON g.vec_id = p.vid""",
    "q_semdedup_recall" ->
      s"""$SemCtes,
         sample AS (
           SELECT vec_id, e FROM emb0
           WHERE ${h32sql("'semrec_' || vec_id")}
                 % (SELECT greatest(1, (count(*) + ${SemRecallBudget - 1})
                                       // $SemRecallBudget)
                    FROM embeddings) = 0),
         truth AS (
           SELECT a.vec_id AS id1, b.vec_id AS id2
           FROM sample a JOIN sample b ON a.vec_id < b.vec_id
           WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4),
         det AS (
           SELECT DISTINCT t.id1, t.id2
           FROM truth t
           JOIN asgm ca ON ca.vec_id = t.id1
           JOIN asgm cb ON cb.vec_id = t.id2
           WHERE ca.cell = cb.cell)
         SELECT (SELECT count(*) FROM truth) AS n_true,
                (SELECT count(*) FROM det) AS n_detected,
                CAST(CASE WHEN (SELECT count(*) FROM truth) > 0
                     THEN ((1000000 * (SELECT count(*) FROM det))
                           + ((SELECT count(*) FROM truth) // 2))
                          // (SELECT count(*) FROM truth)
                     ELSE 1000000 END AS BIGINT) AS recall_ppm""",
    "q_ngram_lm_ppl" ->
      s"""WITH $PplCtes
         SELECT d.doc_id,
                coalesce(n_bigrams, 0) AS n_bigrams,
                CAST(coalesce(nll, 0) AS BIGINT) AS nll_micronats,
                CAST(CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0
                     ELSE nll // n_bigrams END AS BIGINT) AS avg_nll_micronat
         FROM documents d LEFT JOIN per USING (doc_id)"""
  )

  /** Shared oracle CTE prefix: VectorOps.lshBucket (integer-quantized
    * plane dots over 6 planes x 64 dims) + kmeansAssign(rounds = 1) —
    * `asg1` is the cluster assignment both q_semdedup and
    * q_semdedup_recall consume. */
  private val SemCtes =
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
         asgm AS (SELECT vec_id, cell, rn FROM (
             SELECT e.vec_id, ct.cell,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY round(list_cosine_similarity(e.e, ct.ce), 6) DESC,
                               ct.cell ASC) AS rn
             FROM emb0 e CROSS JOIN centa ct) WHERE rn <= 4),
         asg1 AS (SELECT vec_id, cell FROM asgm WHERE rn = 1)"""
}
