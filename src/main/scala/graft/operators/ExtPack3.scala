package graft.operators

import graft.{QueryPack, Tables => T}
import graft.ext.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators, part 3 (north star; SURVEY.md
  * §7.1 ext/): corpus vocabulary statistics, TF-IDF keyword
  * extraction, URL canonicalization dedup, exact repeated-span
  * (substring) dedup, Bloom-prefiltered incremental dedup, token
  * entropy quality scoring, and edit-distance near-dup verification.
  *
  * Same verification design as ExtPack/ExtPack2: every query is
  * bit-reproducible in DuckDB (md5-derived hashes, integer micro-unit
  * encodings for division/libm-derived columns — the q_dsir pattern,
  * after round(double,6) outputs proved oracle-engine-sensitive in r4 —
  * total orderings), and every shape is linear — candidates are always
  * enumerated through keys (span hashes, canonical URLs, explicit id
  * offsets), never through per-group cross products.
  */
object ExtPack3 extends QueryPack {

  /** Repeated-span parameters (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": dedup exact spans of
    * ~50 BPE tokens; scaled to this corpus's short docs): spans of 8
    * whitespace tokens sampled every 4 (stride-4 pigeonhole: any
    * repeated run of >= 11 tokens contains an aligned shared span). */
  private val spanW = 8
  private val spanStride = 4

  /** Per-doc array of md5 span hashes (HOF-only, no shuffle). */
  private def spanHashes(text: org.apache.spark.sql.Column) = {
    val toks = TextOps.tokens(text)
    when(size(toks) >= spanW,
      transform(sequence(lit(1), size(toks) - (spanW - 1), lit(spanStride)),
        i => md5(array_join(slice(toks, i, lit(spanW)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Corpus vocabulary top-k: global token frequencies + document
    // frequencies, the input to tokenizer training / stopword lists /
    // contamination audits. One explode + one groupBy with map-side
    // partial aggregation; hot tokens ("the") are exactly the keys
    // partial agg collapses before the shuffle, so the skew never
    // reaches the exchange. Total order (count desc, token) makes the
    // LIMIT deterministic.
    "q_vocab_topk" -> ((s, d) => {
      import s.implicits._
      T.documents(s, d)
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"tok")
        .agg(count(lit(1)).as("n_occurs"),
          countDistinct($"doc_id").as("n_docs"))
        .orderBy($"n_occurs".desc, $"tok".asc)
        .limit(20)
    }),

    // TF-IDF keyword extraction: top-3 terms per document by
    // tf * ln(N/df). The df table is one row per vocabulary term
    // (sublinear in corpus size) joined back on the term key; the
    // corpus-size scalar N rides a broadcast one-row frame, same
    // pattern as q_domain_mix. Scores micro-quantized ONCE to integer
    // (round(x*1e6) as BIGINT — same grid as round(x,6)) so libm ln()
    // ulps can't flip the (score, term) order AND the output cell is
    // integer-exact in any oracle engine (floatsweep r5).
    "q_tfidf" -> ((s, d) => {
      import s.implicits._
      val tf = T.documents(s, d)
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok")
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      val total = T.documents(s, d).agg(count(lit(1)).as("n_total"))
      val scored = tf.join(df, Seq("tok"))
        .crossJoin(broadcast(total))
        .select($"doc_id", $"tok",
          round($"tf" * log($"n_total".cast("double") / $"df") * 1e6)
            .cast("long").as("score_micro"))
      TopN(scored, Seq($"doc_id"), Seq($"score_micro".desc, $"tok".asc), 3)
        .select($"doc_id", $"tok", $"score_micro", $"rank_no")
    }),

    // URL canonicalization + dedup: lowercase scheme/host, drop the
    // scheme's DEFAULT port only (443 for https, 80 for http — a
    // non-default port like :8443 is a distinct origin and survives),
    // strip fragments and utm_* tracking params, sort the surviving
    // query params, trim trailing slashes — then dedup by canonical
    // form (min doc_id is the keep). The URL column is synthesized
    // deterministically from doc_id (the corpus has no URL field) and
    // includes a :8443 slice so the port rule is actually exercised.
    // Pure per-row regex/array expressions + one groupBy: linear.
    "q_url_dedup" -> ((s, d) => {
      import s.implicits._
      val url = concat(
        lit("HTTPS://WWW.Example"), ($"doc_id" % 7).cast("string"),
        lit(".COM"),
        when($"doc_id" % 5 === 0, lit(":8443")).otherwise(lit(":443")),
        lit("/Path/"), ($"doc_id" % 50).cast("string"),
        when($"doc_id" % 3 === 0,
          concat(lit("/?utm_source=feed&id="), ($"doc_id" % 25).cast("string")))
          .when($"doc_id" % 3 === 1,
            concat(lit("/?id="), ($"doc_id" % 25).cast("string"), lit("&utm_campaign=x")))
          .otherwise(lit("/")),
        when($"doc_id" % 2 === 0, lit("#section-2")).otherwise(lit("")))
      val noFrag = regexp_replace(url, "#.*$", "")
      val scheme = lower(regexp_extract(noFrag, "^([a-zA-Z]+)://", 1))
      val host = lower(regexp_extract(noFrag, "^[a-zA-Z]+://([^/:?#]+)", 1))
      val port = regexp_extract(noFrag, "^[a-zA-Z]+://[^/:?#]+:([0-9]+)", 1)
      val defaultPort = when(scheme === "https", lit("443"))
        .when(scheme === "http", lit("80")).otherwise(lit(""))
      val portSuffix = when(port === "" || port === defaultPort, lit(""))
        .otherwise(concat(lit(":"), port))
      val path = regexp_replace(
        lower(regexp_extract(noFrag, "^[a-zA-Z]+://[^/?#]*(/[^?#]*)?", 1)),
        "/+$", "")
      val query = regexp_extract(noFrag, "\\?([^#]*)", 1)
      val keptParams = array_sort(filter(split(query, "&"),
        p => !startswith(p, lit("utm_")) && p =!= lit("")))
      val canon = concat(scheme, lit("://"), host, portSuffix, path,
        when(size(keptParams) > 0,
          concat(lit("?"), array_join(keptParams, "&"))).otherwise(lit("")))
      T.documents(s, d)
        .select($"doc_id", canon.as("canon_url"))
        .groupBy($"canon_url")
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
    }),

    // Exact repeated-span dedup (Lee et al. 2022): flag documents
    // whose token spans also appear in OTHER documents — the exact-
    // substring complement to MinHash's whole-doc similarity. Spans
    // are hashed per row (no shuffle), then one groupBy counts each
    // span's distinct docs and a join back + per-doc agg computes the
    // duplicated-span fraction. All three shuffles key on high-
    // cardinality hashes with map-side partial agg: linear, and the
    // template-heavy hot spans collapse in the partial phase.
    // The fraction is emitted as integer PARTS-PER-MILLION computed
    // with pure BIGINT arithmetic ((1e6*dup + n/2) div n) — the round-4
    // differential proved that a round(double,6) output column is
    // sensitive to the oracle engine's float formatting; integer
    // encoding (the q_dsir micro-nat pattern) is exact in any engine.
    "q_substring_dedup" -> ((s, d) => {
      import s.implicits._
      // unfanned here and below (Probe fanab, r17): the span explode
      // flows straight into its own aggregation shuffle
      val spans = T.documentsUnfanned(s, d)
        .select($"doc_id", explode(spanHashes($"text")).as("span"))
      val shared = spans.groupBy($"span")
        .agg(countDistinct($"doc_id").as("n_span_docs"))
      val perDoc = spans.join(shared, Seq("span"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when($"n_span_docs" >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      T.documentsUnfanned(s, d).select($"doc_id")
        .join(perDoc, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_spans", lit(0L)).as("n_spans"),
          coalesce($"n_dup_spans", lit(0L)).as("n_dup_spans"))
        .withColumn("dup_frac_ppm",
          when($"n_spans" > 0,
            expr("((1000000 * n_dup_spans) + (n_spans div 2)) div n_spans"))
            .otherwise(lit(0L)))
    }),

    // Bloom-prefiltered incremental dedup: is each DELTA doc's
    // fingerprint already in the BASE corpus? The base builds a Bloom
    // filter once (distributed treeAggregate; ~1.2 GB for 10^9 docs at
    // 1% fpp — broadcastable); the delta probes it map-side and only
    // the bloom-POSITIVE survivors (true dups + ~1% false positives)
    // reach the exact verification join. No false negatives, so the
    // output is exact — the bloom is invisible to correctness and the
    // verify join's probe side shrinks from |delta| to ~|dups|.
    // (Membership probe is a closure UDF: Spark's BloomFilterMightContain
    // expression is internal to runtime filters, and the probe is a
    // row-local bit test with nothing for codegen to fuse anyway.)
    "q_bloom_dedup" -> ((s, d) => {
      import s.implicits._
      val fps = T.documents(s, d)
        .select($"doc_id", TextOps.fingerprint($"text").as("fp"))
      val base = fps.filter($"doc_id" % 4 =!= 0)
      val delta = fps.filter($"doc_id" % 4 === 0)
      // Capacity is DERIVED from the base corpus, never hard-coded: a
      // fixed expectedNumItems saturates once the corpus outgrows it
      // (fpp -> ~1, every delta row becomes a "candidate", and the
      // prefilter silently degrades to a no-op — output stays exact,
      // but the optimization evaporates exactly at the scale it was
      // built for). One cheap count job sizes the filter so fpp holds
      // at ANY SF (~1.2 GB for 10^9 docs at 1% — still broadcastable).
      val nBase = math.max(base.count(), 1000L)
      val bloom = base.stat.bloomFilter("fp", nBase, 0.01)
      val mightContain = udf((fp: String) => fp != null && bloom.mightContain(fp))
      val candidates = delta.filter(mightContain($"fp"))
      val misses = delta.filter(!mightContain($"fp"))
      val verified = candidates
        .join(base.select($"fp").distinct().withColumn("hit", lit(true)),
          Seq("fp"), "left")
        .select($"doc_id", $"fp", coalesce($"hit", lit(false)).as("in_base"))
      verified.unionByName(
        misses.select($"doc_id", $"fp", lit(false).as("in_base")))
    }),

    // Token-entropy quality signal: Shannon entropy of each doc's
    // token distribution (low entropy = repetitive/templated text, a
    // standard pretraining quality filter alongside the Gopher rules
    // in q_quality_repetition). entropy = log2(n) - sum(c*log2 c)/n
    // needs only per-(doc,token) counts and one per-doc agg — two
    // linear shuffles, both partial-agg friendly.
    // Cross-engine determinism (the q_dsir micro-nat pattern): each
    // per-term c*log2(c) is rounded ONCE to integer micro-bits, the
    // per-doc sum is BIGINT (exact under any aggregation order), and
    // all downstream arithmetic is integer — so neither libm ulps nor
    // float formatting can flip the oracle hash. The mathematically-
    // impossible-but-integer-noise-possible negative entropy is
    // clamped at 0 so the ppm division below never sees a negative
    // numerator (trunc-vs-floor division differs on negatives).
    "q_token_entropy" -> ((s, d) => {
      import s.implicits._
      val counts = T.documents(s, d)
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok")
        .agg(count(lit(1)).as("c"))
        .select($"doc_id", $"c",
          round($"c" * log(2.0, $"c") * 1e6).cast("long").as("cu"))
      counts.groupBy($"doc_id")
        .agg(sum($"c").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum($"cu").as("clog_u"))
        .withColumn("log2n_u", round(log(2.0, $"n_tokens") * 1e6).cast("long"))
        .withColumn("log2d_u", round(log(2.0, $"n_distinct") * 1e6).cast("long"))
        .withColumn("entropy_microbits",
          greatest($"log2n_u" -
            expr("(clog_u + (n_tokens div 2)) div n_tokens"), lit(0L)))
        .select($"doc_id", $"n_tokens", $"n_distinct", $"entropy_microbits",
          when($"n_distinct" > 1,
            expr("((1000000 * entropy_microbits) + (log2d_u div 2)) div log2d_u"))
            .otherwise(lit(0L)).as("norm_entropy_ppm"))
    }),

    // Edit-distance near-dup verification: Levenshtein over text
    // prefixes for candidate pairs enumerated by explicit id offsets
    // (each doc probes doc_id+1..+3) — the candidate set is built by
    // KEY, so the join is equi on doc_id and the pair count is O(n*3)
    // regardless of how many docs share a source. The per-group
    // cross-product formulation (join on source, filter on id range)
    // would be quadratic in the hottest source at 100 TB.
    "q_edit_distance" -> ((s, d) => {
      import s.implicits._
      // unfanned: narrow prefix projection feeding a keyed join
      // (Probe fanab, r17)
      val docs = T.documentsUnfanned(s, d)
        .select($"doc_id", substring($"text", 1, 48).as("prefix"))
      val probes = docs
        .select($"doc_id".as("id1"), $"prefix".as("p1"),
          explode(sequence($"doc_id" + 1, $"doc_id" + 3)).as("doc_id"))
      probes.join(docs, Seq("doc_id"))
        .select($"id1", $"doc_id".as("id2"),
          levenshtein($"p1", $"prefix").cast("long").as("edit_dist"))
        .withColumn("is_near", $"edit_dist" <= 12)
    })
  )

  def oracle: Map[String, String] = Map(
    "q_vocab_topk" ->
      """SELECT tok, count(*) AS n_occurs, count(DISTINCT doc_id) AS n_docs
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents)
         GROUP BY tok ORDER BY n_occurs DESC, tok LIMIT 20""",
    "q_tfidf" ->
      """WITH tf AS (
           SELECT doc_id, tok, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents)
           GROUP BY doc_id, tok),
         df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         n AS (SELECT count(*) AS n_total FROM documents),
         scored AS (
           SELECT doc_id, tf.tok,
                  CAST(round(tf * ln(n_total * 1.0 / df) * 1000000) AS BIGINT)
                    AS score_micro
           FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
         ranked AS (
           SELECT doc_id, tok, score_micro,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY score_micro DESC, tok) AS rank_no
           FROM scored)
         SELECT doc_id, tok, score_micro, rank_no FROM ranked
         WHERE rank_no <= 3""",
    "q_url_dedup" ->
      """WITH urls AS (
           SELECT doc_id,
             'HTTPS://WWW.Example' || (doc_id % 7) || '.COM' ||
             CASE WHEN doc_id % 5 = 0 THEN ':8443' ELSE ':443' END ||
             '/Path/' || (doc_id % 50) ||
             CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&id=' || (doc_id % 25)
                  WHEN doc_id % 3 = 1 THEN '/?id=' || (doc_id % 25) || '&utm_campaign=x'
                  ELSE '/' END ||
             CASE WHEN doc_id % 2 = 0 THEN '#section-2' ELSE '' END AS url
           FROM documents),
         parts AS (
           SELECT doc_id,
             lower(regexp_extract(nofrag, '^([a-zA-Z]+)://', 1)) AS scheme,
             lower(regexp_extract(nofrag, '^[a-zA-Z]+://([^/:?#]+)', 1)) AS host,
             regexp_extract(nofrag, '^[a-zA-Z]+://[^/:?#]+:([0-9]+)', 1) AS port,
             regexp_replace(lower(regexp_extract(nofrag,
               '^[a-zA-Z]+://[^/?#]*(/[^?#]*)?', 1)), '/+$', '') AS path,
             list_sort(list_filter(
               string_split(regexp_extract(nofrag, '\?([^#]*)', 1), '&'),
               p -> NOT starts_with(p, 'utm_') AND p != '')) AS kept
           FROM (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag
                 FROM urls))
         SELECT scheme || '://' || host ||
                CASE WHEN port = '' OR port =
                       (CASE WHEN scheme = 'https' THEN '443'
                             WHEN scheme = 'http' THEN '80' ELSE '' END)
                     THEN '' ELSE ':' || port END ||
                path ||
                CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
                     ELSE '' END AS canon_url,
                min(doc_id) AS keep_id, count(*) AS n_dups
         FROM parts GROUP BY 1""",
    "q_substring_dedup" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         spans AS (
           SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 6, 1), 4),
               i -> md5(array_to_string(w[i:i+7], ' ')))) AS span
           FROM toks),
         shared AS (
           SELECT span, count(DISTINCT doc_id) AS n_span_docs
           FROM spans GROUP BY span),
         per_doc AS (
           SELECT doc_id, count(*) AS n_spans,
                  CAST(sum(CASE WHEN n_span_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
           FROM spans JOIN shared USING (span) GROUP BY doc_id)
         SELECT d.doc_id,
                coalesce(n_spans, 0) AS n_spans,
                coalesce(n_dup_spans, 0) AS n_dup_spans,
                CAST(CASE WHEN coalesce(n_spans, 0) > 0
                     THEN ((1000000 * n_dup_spans) + (n_spans // 2)) // n_spans
                     ELSE 0 END AS BIGINT) AS dup_frac_ppm
         FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id""",
    "q_bloom_dedup" ->
      """WITH fps AS (
           SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
           FROM documents)
         SELECT d.doc_id, d.fp, (b.fp IS NOT NULL) AS in_base
         FROM (SELECT * FROM fps WHERE doc_id % 4 = 0) d
         LEFT JOIN (SELECT DISTINCT fp FROM fps WHERE doc_id % 4 != 0) b
           ON d.fp = b.fp""",
    "q_token_entropy" ->
      """WITH counts AS (
           SELECT doc_id, tok, count(*) AS c
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents)
           GROUP BY doc_id, tok),
         cu AS (
           SELECT doc_id, c,
                  CAST(round(c * log2(c) * 1000000) AS BIGINT) AS cu
           FROM counts),
         agg AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                  count(*) AS n_distinct,
                  CAST(sum(cu) AS BIGINT) AS clog_u
           FROM cu GROUP BY doc_id),
         ints AS (
           SELECT doc_id, n_tokens, n_distinct, clog_u,
                  CAST(round(log2(n_tokens) * 1000000) AS BIGINT) AS log2n_u,
                  CAST(round(log2(n_distinct) * 1000000) AS BIGINT) AS log2d_u
           FROM agg),
         ent AS (
           SELECT doc_id, n_tokens, n_distinct, log2d_u,
                  greatest(log2n_u
                    - (clog_u + (n_tokens // 2)) // n_tokens, 0)
                    AS entropy_microbits
           FROM ints)
         SELECT doc_id, n_tokens, n_distinct,
                CAST(entropy_microbits AS BIGINT) AS entropy_microbits,
                CAST(CASE WHEN n_distinct > 1
                     THEN ((1000000 * entropy_microbits) + (log2d_u // 2))
                          // log2d_u
                     ELSE 0 END AS BIGINT) AS norm_entropy_ppm
         FROM ent""",
    "q_edit_distance" ->
      """WITH docs AS (
           SELECT doc_id, substring(text, 1, 48) AS prefix FROM documents),
         probes AS (
           SELECT a.doc_id AS id1, a.prefix AS p1, a.doc_id + k.k AS doc_id
           FROM docs a CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) k)
         SELECT id1, b.doc_id AS id2,
                CAST(levenshtein(p1, b.prefix) AS BIGINT) AS edit_dist,
                levenshtein(p1, b.prefix) <= 12 AS is_near
         FROM probes JOIN docs b ON probes.doc_id = b.doc_id"""
  )
}
