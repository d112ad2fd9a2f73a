package graft.operators

import graft.{QueryPack, Tables => T}
import graft.ext.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators, sixth pack: corpus mixing to a
  * token budget, and BPE merge-rule training (the tokenizer-training
  * step q_bpe_pairs only prepares statistics for).
  *
  * Both follow the established discipline: every ratio is integer
  * (per-mille shares, BIGINT counts) so no engine's float rounding can
  * flip a row, and every per-doc decision is derivable map-side from a
  * deterministic hash so a re-run — or an incremental append — keeps
  * prior decisions stable.
  */
object ExtPack6 extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token-budget domain mixing: select documents per source under a
    // global token budget (half the corpus), allocated by
    // capped-proportional weights — a source's weight is
    // min(its tokens, the uniform share), the standard way to stop a
    // dominant crawl source from swamping the mix while small sources
    // keep their natural proportion. Shares are computed in integer
    // PER-MILLE (w*1000 div W ≤ 1000) before multiplying by the
    // budget, so the product B*share_pm stays far from BIGINT overflow
    // even at 100-TB token counts where a direct B*w product would
    // overflow. Selection within a source is a deterministic
    // hash-ordered prefix: docs sorted by h32, kept while the running
    // token sum fits the source budget — reproducible, and an appended
    // shard only ever displaces docs at the hash tail. One shuffle
    // (window per source); the per-source budget table is tiny and
    // broadcast.
    "q_token_budget" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // unfanned: metadata-only aggregation + per-source window — the
      // first operation is itself a shuffle (Probe fanab, r17)
      val docs = T.documentsUnfanned(s, d)
      val tot = docs.groupBy($"source")
        .agg(sum($"n_chars").cast("long").as("toks"))
      val scal = tot.agg(
        sum($"toks").cast("long").as("total"),
        expr("CAST(sum(toks) AS BIGINT) div count(*)").as("cap"))
      val w = tot.crossJoin(broadcast(scal))
        .withColumn("w", least($"toks", $"cap"))
      val sumW = w.agg(sum($"w").cast("long").as("sum_w"))
      val budgets = w
        .crossJoin(broadcast(sumW))
        .withColumn("share_pm", expr("w * 1000 div sum_w"))
        .withColumn("budget", expr("(total div 2) * share_pm div 1000"))
        .select($"source", $"budget")
      val h = TextOps.tokenHash32(concat(lit("budget_"), $"doc_id"))
      val win = Window.partitionBy($"source")
        .orderBy($"h", $"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.select($"doc_id", $"source", $"n_chars", h.as("h"))
        .join(broadcast(budgets), "source")
        .withColumn("cum_chars", sum($"n_chars").over(win).cast("long"))
        .filter($"cum_chars" <= $"budget")
        .select($"doc_id", $"source", $"cum_chars")
    }),

    // BPE merge-rule training: k rounds of (count adjacent token
    // pairs weighted by word frequency → take the globally most
    // frequent pair → merge it everywhere). The corpus collapses to
    // its word VOCABULARY first — pair counting and merging run over
    // vocab rows, so round cost is independent of corpus size; only
    // the initial word count touches the full corpus. The merge is
    // EXACT greedy left-to-right BPE via string replace on a
    // double-space-delimited token string (tokens joined by "  ",
    // padded by " "): the pattern " x  y " consumes one delimiter
    // space from each side and the replacement " xy " restores them,
    // so back-to-back occurrences ("a b a b", or "banana"'s a-n a-n)
    // merge exactly as the canonical scan does — a single-space
    // encoding would silently skip every second overlapping match.
    // Both engines' replace() are the same left-to-right
    // non-overlapping algorithm, so the oracle is bit-exact. The
    // per-round argmax is ONE collected row (merge decisions are
    // inherently sequential global argmaxes — one scalar per round
    // reaches the driver, as VertexLoop's change count does).
    "q_bpe_train" -> ((s, d) => {
      val merges = trainMerges(s, d, rounds = 3)
      s.createDataFrame(merges).toDF("round", "pair", "cnt")
    }),

    // BPE tokenizer APPLICATION: re-derive the 3 learned merges, then
    // count each document's post-merge token length. The corpus-scale
    // path is pure map-side: the vocabulary (word → final token count
    // after applying the merge patterns as LITERAL replaces — no
    // collects, no cache in the returned plan) broadcasts to the
    // exploded word stream, so at 100 TB the apply is one scan + one
    // keyed partial-agg; training cost stays vocab-bounded as above.
    "q_bpe_apply" -> ((s, d) => {
      import s.implicits._
      val merges = trainMerges(s, d, rounds = 3)
      val merged = merges.foldLeft(vocabSeq(s, d)) { case (df, (_, bp, _)) =>
        df.withColumn("seq", replace($"seq",
          lit(" " + bp.replace(" ", "  ") + " "),
          lit(" " + bp.replace(" ", "") + " ")))
      }
      val vocabTok = merged.select($"w",
        size(split(trim($"seq"), "  ")).cast("long").as("n_tok"))
      T.documents(s, d)
        .select($"doc_id", explode(split(lower($"text"), "[^a-z]+")).as("w"))
        .filter($"w" =!= "" && length($"w") <= 20)
        .join(broadcast(vocabTok), "w")
        .groupBy($"doc_id")
        .agg(count(lit(1)).cast("long").as("n_words"),
          sum($"n_tok").cast("long").as("n_bpe_tokens"))
    })
  )

  /** Word vocabulary with the initial char-level token string: tokens
    * joined by DOUBLE space, padded by single (see q_bpe_train). */
  private def vocabSeq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T.documents(s, d)
      .select(explode(split(lower($"text"), "[^a-z]+")).as("w"))
      .filter($"w" =!= "" && length($"w") <= 20)
      .groupBy($"w").agg(count(lit(1)).cast("long").as("freq"))
      .withColumn("seq", concat(lit(" "),
        array_join(expr(
          "transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
          "  "),
        lit(" ")))
      .select($"w", $"freq", $"seq")
  }

  /** The k-round merge-rule loop shared by q_bpe_train/q_bpe_apply.
    * Each round's argmax is ONE collected row; the working vocab is
    * cached per round and fully released before returning. */
  private def trainMerges(s: SparkSession, d: String,
      rounds: Int): Seq[(Long, String, Long)] = {
    import s.implicits._
    var words = vocabSeq(s, d).cache()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    for (k <- 1 to rounds) {
      // sequence(1, 0) would count DOWN in Spark — guard short seqs.
      val pairs = words
        .withColumn("arr", split(trim($"seq"), "  "))
        .filter(size($"arr") >= 2)
        .select($"freq", explode(expr(
          """transform(sequence(1, size(arr) - 1),
               i -> concat(element_at(arr, i), ' ',
                           element_at(arr, i + 1)))""")).as("pair"))
        .groupBy($"pair").agg(sum($"freq").cast("long").as("cnt"))
      val best = pairs.orderBy($"cnt".desc, $"pair".asc).limit(1).collect()
      if (best.nonEmpty) {
        val (bp, cnt) = (best(0).getString(0), best(0).getLong(1))
        merges += ((k.toLong, bp, cnt))
        val pat = " " + bp.replace(" ", "  ") + " "
        val rep = " " + bp.replace(" ", "") + " "
        val next = words
          .withColumn("seq", replace($"seq", lit(pat), lit(rep)))
          .cache()
        next.count() // pin before unpersisting the parent
        words.unpersist()
        words = next
      }
    }
    words.unpersist()
    merges.toSeq
  }

  /** DuckDB twin of [[TextOps.tokenHash32]] (same idiom as ExtPack4). */
  private def h32sql(expr: String): String =
    s"""CAST(list_reduce(list_transform(range(1, 9),
          i -> strpos('0123456789abcdef', substr(md5($expr), i, 1)) - 1),
          (a, b) -> a * 16 + b) AS BIGINT)"""

  /** One BPE round in DuckDB: seq$k -> pairs/agg/best$k + seq$k+1. */
  private def bpeRound(k: Int): String = {
    val in = s"seq$k"
    s"""pairs$k AS (
         SELECT freq, unnest(list_transform(range(1, len(arr)),
                  i -> arr[i] || ' ' || arr[i + 1])) AS pair
         FROM (SELECT freq, str_split(trim(seq), '  ') AS arr FROM $in)),
       agg$k AS (
         SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
         FROM pairs$k GROUP BY pair),
       best$k AS (
         SELECT pair, cnt FROM agg$k ORDER BY cnt DESC, pair LIMIT 1),
       seq${k + 1} AS (
         SELECT w, freq,
                replace(seq,
                  ' ' || replace((SELECT pair FROM best$k), ' ', '  ') || ' ',
                  ' ' || replace((SELECT pair FROM best$k), ' ', '') || ' ')
                  AS seq
         FROM $in)"""
  }

  def oracle: Map[String, String] = Map(
    "q_token_budget" ->
      s"""WITH tot AS (
            SELECT source, CAST(sum(n_chars) AS BIGINT) AS toks
            FROM documents GROUP BY source),
          scal AS (
            SELECT CAST(sum(toks) AS BIGINT) AS total,
                   CAST(sum(toks) AS BIGINT) // count(*) AS cap
            FROM tot),
          w AS (
            SELECT source, least(toks, cap) AS w, total FROM tot, scal),
          budgets AS (
            SELECT source,
                   (total // 2) * (w * 1000 // (SELECT sum(w) FROM w))
                     // 1000 AS budget
            FROM w),
          ranked AS (
            SELECT doc_id, source, n_chars,
                   ${h32sql("'budget_' || doc_id")} AS h
            FROM documents)
          SELECT doc_id, source,
                 CAST(cum_chars AS BIGINT) AS cum_chars
          FROM (
            SELECT r.doc_id, r.source,
                   sum(r.n_chars) OVER (
                     PARTITION BY r.source ORDER BY r.h, r.doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum_chars,
                   b.budget
            FROM ranked r JOIN budgets b ON r.source = b.source)
          WHERE cum_chars <= budget""",
    "q_bpe_train" ->
      s"""WITH vocab AS (
            SELECT w, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(str_split_regex(lower(text), '[^a-z]+')) AS w
                  FROM documents)
            WHERE w <> '' AND len(w) <= 20
            GROUP BY w),
          seq1 AS (
            SELECT w, freq,
                   ' ' || array_to_string(list_transform(
                     range(1, len(w) + 1), i -> substr(w, i, 1)), '  ')
                       || ' ' AS seq
            FROM vocab),
          ${bpeRound(1)},
          ${bpeRound(2)},
          ${bpeRound(3)}
          SELECT CAST(1 AS BIGINT) AS round, pair, cnt FROM best1
          UNION ALL
          SELECT CAST(2 AS BIGINT), pair, cnt FROM best2
          UNION ALL
          SELECT CAST(3 AS BIGINT), pair, cnt FROM best3""",
    "q_bpe_apply" ->
      s"""WITH vocab AS (
            SELECT w, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(str_split_regex(lower(text), '[^a-z]+')) AS w
                  FROM documents)
            WHERE w <> '' AND len(w) <= 20
            GROUP BY w),
          seq1 AS (
            SELECT w, freq,
                   ' ' || array_to_string(list_transform(
                     range(1, len(w) + 1), i -> substr(w, i, 1)), '  ')
                       || ' ' AS seq
            FROM vocab),
          ${bpeRound(1)},
          ${bpeRound(2)},
          ${bpeRound(3)},
          vocab_tok AS (
            SELECT w, CAST(len(str_split(trim(seq), '  ')) AS BIGINT)
                     AS n_tok
            FROM seq4),
          dw AS (
            SELECT doc_id, w FROM (
              SELECT doc_id,
                     unnest(str_split_regex(lower(text), '[^a-z]+')) AS w
              FROM documents)
            WHERE w <> '' AND len(w) <= 20)
          SELECT doc_id,
                 CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens
          FROM dw JOIN vocab_tok USING (w)
          GROUP BY doc_id"""
  )
}
