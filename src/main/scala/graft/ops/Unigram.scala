package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer training — the Kudo 2018
  * ("Subword Regularization", ACL) tokenizer family production systems
  * use beside BPE ([[Bpe]]), trained distributed and engine-exactly:
  * seed a vocabulary from frequent substrings, run EM rounds that
  * re-estimate piece probabilities from the corpus segmentation, prune
  * to the target size, and ship (piece, count, cost) — the model
  * artifact a unigram tokenizer serves.
  *
  * Faithfulness and stated simplifications (each deterministic and
  * mirrored exactly in the oracle):
  *  - HARD (Viterbi) EM: the E-step segments each word with the
  *    current costs and counts pieces of the single best segmentation,
  *    rather than forward-backward expected counts — the documented
  *    Viterbi-EM variant of Kudo's trainer. Ties in the DP break on
  *    smallest backpointer (longest piece), a total order both engines
  *    compute as a lexicographic struct min.
  *  - Costs are quantized negative log-probs (the repo's ppm ln
  *    convention, [[Corpus]] q_bigram_lm): cost = −⌊ln(c/N)·10⁶+0.5⌋,
  *    so DP sums are exact BIGINT arithmetic and the argmin is
  *    engine-exact; the one double op per piece (ln) is identical in
  *    both engines.
  *  - Single characters never leave the vocabulary (Kudo's coverage
  *    rule): after each E-step their count is floored to 1, so every
  *    word stays segmentable; multi-char pieces with zero count drop
  *    (EM's natural death) and pruning keeps the top [[K]] multis by
  *    (count DESC, piece ASC).
  *  - Two EM rounds, then prune, then one re-count under the pruned
  *    vocabulary produces the shipped model — the same unrolled-rounds
  *    discipline as [[Bpe]] (the oracle materializes each round as a
  *    CTE; Spark loops on the driver over model-sized collects).
  *
  * Distribution shape (the 100 TB story): everything after the ONE
  * corpus token pass operates on the DISTINCT-WORD frame, which is
  * Heaps-law-sublinear in corpus size — the same trick that makes
  * [[Bpe]] training corpus-scale-cheap. Each EM round is one map-only
  * Viterbi pass over that frame (a codegen-planned higher-order
  * `aggregate` DP — no UDF, no shuffle of text) plus one
  * vocabulary-sized piece-count aggregate; the model (≤ [[S]]+chars
  * rows) is collected per round, the BPE argmax precedent. Encoding
  * segments the distinct words once and size-gate-joins the per-word
  * piece counts back to documents — document text never shuffles.
  *
  * Reference scope: the reference engine ships no tokenizer trainer —
  * this extends the LLM-pipeline surface (brief: tokenizer training
  * beside BPE) with the second mainstream family.
  */
object Unigram {

  /** Max piece length considered during seeding and DP. */
  private val L = 4

  /** Multi-char seed vocabulary size (top substrings by count). */
  private val S = 24

  /** Multi-char pieces kept by the prune step. */
  private val K = 12

  /** Cost of a substring absent from the vocabulary — large enough to
    * never win while staying far from BIGINT overflow when summed
    * along a word (max word length × INF ≪ 2⁶³).
    */
  private val INF = 1000000000000L

  /** Quantized negative log-prob cost in ppm — the house ln
    * convention; java.lang.Math.log is the same double op Spark's
    * `log` codegen and DuckDB's `ln` evaluate.
    */
  private def lnqCost(cnt: Long, n: Long): Long =
    -math.floor(math.log(cnt.toDouble / n) * 1e6 + 0.5).toLong

  private def costsOf(vocab: Seq[(String, Long)]): Map[String, Long] = {
    val n = vocab.map(_._2).sum
    vocab.map { case (p, c) => p -> lnqCost(c, n) }.toMap
  }

  /** Viterbi DP over one word as a pure column expression (higher-order
    * `aggregate`, no UDF): accumulator carries the dp-cost and
    * backpointer arrays, position i extends them with the best (cost,
    * j) over the ≤ [[L]] candidate split points — a lexicographic
    * struct min, so cost ties break on the smallest j (longest final
    * piece) identically to the oracle's `list_min`.
    */
  private def viterbiDpBp(w: Column, costs: Map[String, Long]): Column = {
    val m = typedlit(costs)
    aggregate(
      sequence(lit(1), length(w)),
      struct(array(lit(0L)).as("dp"), array(lit(0L)).as("bp")),
      (acc, i) => {
        val cands = transform(
          sequence(greatest(lit(0), i - lit(L)), i - 1),
          j => struct(
            (element_at(acc("dp"), j + 1) +
              coalesce(element_at(m, w.substr(j + 1, i - j)), lit(INF)))
              .as("c"),
            j.cast("long").as("j")))
        val best = array_min(cands)
        struct(
          concat(acc("dp"), array(best("c"))).as("dp"),
          concat(acc("bp"), array(best("j"))).as("bp"))
      })
  }

  /** The best segmentation's pieces, left to right. The backpointer
    * walk runs inside the SAME expression, with bp carried in the
    * accumulator (evaluated once in the aggregate's zero) — never a
    * second projection referencing the DP column, which Catalyst would
    * re-expand (the q_cdc_chunks lambda/element_at trap).
    */
  private[graft] def viterbiPieces(w: Column,
      costs: Map[String, Long]): Column =
    aggregate(
      sequence(lit(1), length(w)),
      struct(length(w).cast("long").as("pos"),
        typedlit(Seq.empty[String]).as("pieces"),
        viterbiDpBp(w, costs)("bp").as("bp")),
      (acc, _) => {
        val pos  = acc("pos")
        val prev = element_at(acc("bp"), (pos + 1).cast("int"))
        when(pos > 0,
          struct(
            prev.as("pos"),
            concat(acc("pieces"),
              array(w.substr((prev + 1).cast("int"),
                (pos - prev).cast("int")))).as("pieces"),
            acc("bp").as("bp")))
          .otherwise(acc)
      },
      acc => reverse(acc("pieces")))

  /** Total Viterbi cost of one word under `costs` (diagnostics: the
    * hard-EM objective is Σ freq·cost, non-increasing over rounds).
    */
  private[graft] def viterbiCost(w: Column,
      costs: Map[String, Long]): Column =
    element_at(viterbiDpBp(w, costs)("dp"), length(w) + 1)

  /** Distinct lowercased words with corpus frequency — the
    * Heaps-sublinear frame every training stage operates on; pinned so
    * the EM rounds never re-tokenize the corpus through lineage.
    */
  private[graft] def wordsDf(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(TextOps.wsTokens(lower(col("text")))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .localCheckpoint()

  /** E-step piece counts: one map-only Viterbi pass over the distinct
    * words, one vocabulary-sized aggregate, one model-sized collect.
    */
  private def emCounts(words: DataFrame,
      costs: Map[String, Long]): Map[String, Long] =
    words
      .select(col("freq"),
        explode(viterbiPieces(col("word"), costs)).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** M-step vocabulary update: counts re-read from the E-step, single
    * chars floored to 1 (coverage), zero-count multis dropped. Pure —
    * unit-tested directly.
    */
  private[graft] def mStep(vocab: Seq[(String, Long)],
      counts: Map[String, Long]): Seq[(String, Long)] =
    vocab.flatMap { case (p, _) =>
      val c = counts.getOrElse(p, 0L)
      if (p.length == 1) Some(p -> math.max(c, 1L))
      else if (c > 0) Some(p -> c)
      else None
    }

  /** Prune to chars + top-[[K]] multis by (count DESC, piece ASC) — a
    * total order, so both engines keep the identical set. Pure.
    */
  private[graft] def pruneVocab(vocab: Seq[(String, Long)])
      : Seq[(String, Long)] =
    vocab.filter(_._1.length == 1) ++
      vocab.filter(_._1.length > 1)
        .sortBy { case (p, c) => (-c, p) }.take(K)

  /** Trained model: the shipped vocabulary (post-prune, re-counted)
    * and the per-round hard-EM objective Σ freq·viterbi_cost for the
    * monotonicity diagnostic.
    */
  private[graft] final case class Model(vocab: Seq[(String, Long)],
      roundObjectives: Seq[Long]) {
    def costs: Map[String, Long] = costsOf(vocab)
  }

  /** The full train loop, memoized per (session, dataset) like the ANN
    * artifacts — q_unigram_train and q_unigram_encode share one run.
    */
  private[graft] def train(s: SparkSession, d: String): Model =
    Similarity.memo(s, d, "unigram-lm") {
      val words = wordsDf(s, d)
      // seed: positional substring counts (length 1..L), all single
      // chars + top-S multis — one explode over the DISTINCT words
      val subs = words
        .select(col("word"), col("freq"),
          explode(sequence(lit(1), length(col("word")))).as("st"))
        .select(col("word"), col("freq"), col("st"),
          explode(sequence(lit(1), lit(L))).as("ln"))
        .filter(col("st") + col("ln") <= length(col("word")) + 1)
        .select(col("word").substr(col("st"), col("ln")).as("piece"),
          col("freq"))
        .groupBy("piece").agg(sum(col("freq")).as("cnt"))
        .localCheckpoint()
      val chars = subs.filter(length(col("piece")) === 1)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val multi = subs.filter(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece").asc).limit(S)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      var vocab = chars ++ multi
      val objectives = Seq.newBuilder[Long]
      for (_ <- 1 to 2) { // two EM rounds
        val c = costsOf(vocab)
        objectives += words
          .select(sum(col("freq") * viterbiCost(col("word"), c)).as("o"))
          .collect()(0).getLong(0)
        vocab = mStep(vocab, emCounts(words, c))
      }
      // prune, then one re-count under the pruned vocabulary
      val pruned = pruneVocab(vocab)
      Model(mStep(pruned, emCounts(words, costsOf(pruned))),
        objectives.result())
    }

  // --------------------------------------------------------- oracle SQL

  /** One oracle segmentation round under cost table `ctab`: a
    * recursive-CTE Viterbi DP carrying (dp, bp) lists per word, a
    * backpointer walk, then EM counts with the single-char floor —
    * the exact mirror of [[viterbiDpBp]]/[[viterbiPieces]]/[[mStep]].
    * The cost map rides each DP row (vocab-sized), so the lambda needs
    * no correlated subquery.
    */
  private[ops] def segRoundSql(r: Int, ctab: String, p: String = ""): String =
    s"""${p}dp$r AS (
       |  SELECT word, freq, 0 AS i, [CAST(0 AS BIGINT)] AS dp,
       |    [CAST(0 AS BIGINT)] AS bp,
       |    (SELECT map(list(piece), list(cost)) FROM $ctab) AS m
       |  FROM ${p}words
       |  UNION ALL
       |  SELECT word, freq, i + 1,
       |    list_append(dp, struct_extract(best, 'c')),
       |    list_append(bp, struct_extract(best, 'j')), m
       |  FROM (
       |    SELECT word, freq, i, dp, bp, m,
       |      list_min(list_transform(range(greatest(0, i + 1 - $L), i + 1),
       |        j -> {'c': dp[CAST(j + 1 AS INT)] + coalesce(
       |                map_extract(m, substr(word, CAST(j + 1 AS INT),
       |                  CAST(i + 1 - j AS INT)))[1], $INF),
       |              'j': j})) AS best
       |    FROM ${p}dp$r WHERE i < len(word)) t),
       |${p}walk$r AS (
       |  SELECT word, freq, bp, CAST(len(word) AS BIGINT) AS pos,
       |    CAST([] AS VARCHAR[]) AS pieces
       |  FROM ${p}dp$r WHERE i = len(word)
       |  UNION ALL
       |  SELECT word, freq, bp, bp[CAST(pos + 1 AS INT)],
       |    list_append(pieces, substr(word,
       |      CAST(bp[CAST(pos + 1 AS INT)] + 1 AS INT),
       |      CAST(pos - bp[CAST(pos + 1 AS INT)] AS INT)))
       |  FROM ${p}walk$r WHERE pos > 0),
       |${p}seg$r AS MATERIALIZED (
       |  SELECT word, freq, list_reverse(pieces) AS pieces
       |  FROM ${p}walk$r WHERE pos = 0),
       |${p}n$r AS MATERIALIZED (
       |  SELECT piece,
       |    CASE WHEN len(piece) = 1 THEN greatest(cnt, 1) ELSE cnt END AS cnt
       |  FROM (
       |    SELECT v.piece, CAST(coalesce(sum(u.freq), 0) AS BIGINT) AS cnt
       |    FROM (SELECT piece FROM $ctab) v
       |    LEFT JOIN (SELECT unnest(pieces) AS piece, freq FROM ${p}seg$r) u
       |      USING (piece)
       |    GROUP BY v.piece)
       |  WHERE len(piece) = 1 OR cnt > 0)""".stripMargin

  private[ops] def costSql(name: String, vtab: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(-floor(ln(CAST(cnt AS DOUBLE) /
       |      (SELECT sum(cnt) FROM $vtab)) * 1e6 + 0.5) AS BIGINT) AS cost
       |  FROM $vtab)""".stripMargin

  /** Shared train chain: words → substring seed → c0 → two EM rounds →
    * prune → re-count (n3 is the shipped model's counts).
    */
  private[graft] def oracleTrainCtes(p: String = ""): String = Seq(
    s"""${p}words AS MATERIALIZED (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(text),
       |      '\\s+'), t -> t <> '')) AS word
       |    FROM documents) GROUP BY 1)""".stripMargin,
    s"""${p}subs AS MATERIALIZED (
       |  SELECT substr(word, CAST(st AS INT), CAST(ln AS INT)) AS piece,
       |    CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM ${p}words, UNNEST(range(1, len(word) + 1)) AS s(st),
       |    UNNEST(range(1, ${L + 1})) AS l(ln)
       |  WHERE st + ln <= len(word) + 1
       |  GROUP BY 1)""".stripMargin,
    s"""${p}v0 AS MATERIALIZED (
       |  SELECT piece, cnt FROM ${p}subs WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM ${p}subs WHERE len(piece) > 1
       |    ORDER BY cnt DESC, piece ASC LIMIT $S))""".stripMargin,
    costSql(s"${p}c0", s"${p}v0"),
    segRoundSql(1, s"${p}c0", p),
    costSql(s"${p}c1", s"${p}n1"),
    segRoundSql(2, s"${p}c1", p),
    s"""${p}vp AS MATERIALIZED (
       |  SELECT piece, cnt FROM ${p}n2 WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM ${p}n2 WHERE len(piece) > 1
       |    ORDER BY cnt DESC, piece ASC LIMIT $K))""".stripMargin,
    costSql(s"${p}cp", s"${p}vp"),
    segRoundSql(3, s"${p}cp", p),
  ).mkString(",\n")

  /** q_unigram_train — the shipped model: (piece, count, cost_ppm),
    * the unigram tokenizer's artifact (chars + surviving multis with
    * their re-estimated counts and quantized costs).
    */
  val qUnigramTrain = Q(
    "q_unigram_train",
    (s, d) => {
      val model = train(s, d)
      val n = model.vocab.map(_._2).sum
      import s.implicits._
      model.vocab
        .map { case (p, c) => (p, c, lnqCost(c, n)) }
        .toDF("piece", "cnt", "cost_ppm")
        .orderBy("piece")
    },
    Some(
      s"""WITH RECURSIVE
         |${oracleTrainCtes()}
         |SELECT piece, cnt,
         |  CAST(-floor(ln(CAST(cnt AS DOUBLE) /
         |    (SELECT sum(cnt) FROM n3)) * 1e6 + 0.5) AS BIGINT) AS cost_ppm
         |FROM n3 ORDER BY piece""".stripMargin
    )
  )

  /** The literal-form per-word Viterbi piece counts (the ≤ threshold
    * arm), factored so the form-gate spec can compare arms directly.
    */
  private[graft] def literalFormCounts(words: DataFrame,
      costs: Map[String, Long]): DataFrame =
    words.select(col("word"),
      size(viterbiPieces(col("word"), costs)).cast("long").as("np"))

  /** The table-form Viterbi (the > threshold arm — the same physical
    * discipline as [[Wordpiece]]'s form-gated MaxMatch): the cost
    * model becomes a (piece, cost) frame; each word's ≤ len·L
    * candidate substrings join it through the size gate; the matched
    * (end i, split j) costs collect into a bounded per-word DATA map
    * keyed i·256 + (i−j); and the DP + backpointer count-walk read
    * that map instead of a typedlit. Candidate set, INF fallback for
    * unmatched splits, and the lexicographic (cost, j) tie-break are
    * IDENTICAL to the literal form, so both arms produce the same
    * segmentation bit for bit (spec-pinned).
    */
  private[graft] def tableFormCounts(s: SparkSession, words: DataFrame,
      costs: Map[String, Long]): DataFrame = {
    import s.implicits._
    tableFormCountsDf(words, costs.toSeq.toDF("piece", "cost"),
      costs.size.toLong)
  }

  /** [[tableFormCounts]] with the cost model supplied as a FRAME —
    * the arm a PERSISTED vocabulary serves through ([[ModelStore]]):
    * a stored above-gate cost table goes storage → join build side
    * without a driver collect.
    */
  private[graft] def tableFormCountsDf(words: DataFrame,
      costDf: DataFrame, costRows: Long): DataFrame = {
    val cand = words
      .select(col("word"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("i"),
        explode(sequence(greatest(lit(0), col("i") - L), col("i") - 1))
          .as("j"))
      .select(col("word"), col("i"), col("j"),
        col("word").substr(col("j") + 1, col("i") - col("j")).as("piece"))
    val matched = Distributed.modelJoin(cand, costDf,
      costRows, Seq("piece"))
      .select(col("word"),
        (col("i") * 256 + (col("i") - col("j"))).as("k"), col("cost"))
    val wmap = matched.groupBy("word")
      .agg(map_from_entries(collect_list(struct(col("k"), col("cost"))))
        .as("m"))
    words.join(wmap, Seq("word"), "left")
      .select(col("word"),
        viterbiCountData(col("word"), col("m")).as("np"))
  }

  /** Per-distinct-word Viterbi piece counts served from a PERSISTED
    * cost table (piece, cost_ppm) — the [[ModelStore]] serving path,
    * [[Bpe.servedCounts]]'s unigram sibling: same form gate
    * ([[Wordpiece.LiteralFormMaxPieces]]), model as a stored FRAME
    * with its manifest row count. At/below the gate the cost table is
    * collected into the codegen'd literal Viterbi (bounded by the
    * gate itself); above it the frame feeds [[tableFormCountsDf]]
    * directly — no driver materialization.
    */
  private[graft] def servedCounts(s: SparkSession, words: DataFrame,
      costTable: DataFrame, cRows: Long): DataFrame =
    if (cRows <= Wordpiece.LiteralFormMaxPieces) {
      val costs = costTable.select("piece", "cost_ppm").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      literalFormCounts(words, costs)
    } else
      tableFormCountsDf(words,
        costTable.select(col("piece"), col("cost_ppm").as("cost")),
        cRows)

  /** DP + count-walk against a per-word DATA cost map (m: key
    * i·256+(i−j) → cost). Mirrors [[viterbiDpBp]]/[[viterbiPieces]]
    * exactly, counting pieces instead of materializing them.
    */
  private def viterbiCountData(w: Column, m: Column): Column = {
    val dpbp = aggregate(
      sequence(lit(1), length(w)),
      struct(array(lit(0L)).as("dp"), array(lit(0L)).as("bp")),
      (acc, i) => {
        val cands = transform(
          sequence(greatest(lit(0), i - lit(L)), i - 1),
          j => struct(
            (element_at(acc("dp"), j + 1) +
              coalesce(element_at(m, (i * 256 + (i - j)).cast("int")),
                lit(INF))).as("c"),
            j.cast("long").as("j")))
        val best = array_min(cands)
        struct(
          concat(acc("dp"), array(best("c"))).as("dp"),
          concat(acc("bp"), array(best("j"))).as("bp"))
      })
    aggregate(
      sequence(lit(1), length(w)),
      struct(length(w).cast("long").as("pos"), lit(0L).as("np"),
        dpbp("bp").as("bp")),
      (acc, _) =>
        when(acc("pos") > 0,
          struct(
            element_at(acc("bp"), (acc("pos") + 1).cast("int")).as("pos"),
            (acc("np") + 1).as("np"), acc("bp").as("bp")))
          .otherwise(acc),
      acc => acc("np"))
  }

  /** Per-distinct-word subword counts under the shipped model — the
    * Heaps-sublinear frame encode and compare join back to documents
    * through the size gate ([[Distributed.modelJoin]]: broadcast
    * under the row threshold, word-keyed shuffle join once the
    * distinct-word frame is web-corpus-sized); memoized WITH its row
    * count and pinned so the two consumers share ONE token pass +
    * Viterbi segmentation per (session, dataset). The PHYSICAL FORM
    * of the cost model is gated like [[Wordpiece]]'s
    * ([[Wordpiece.LiteralFormMaxPieces]], the measured
    * VocabFormProbe bound): typedlit walk at toy sizes, the
    * vocabulary-as-table DP above the threshold.
    */
  private[ops] def wordPieceCountsWithRows(s: SparkSession, d: String)
      : (DataFrame, Long) =
    Similarity.memo(s, d, "unigram-wpc") {
      val cf = train(s, d).costs
      val words = wordsDf(s, d)
      val wp = (if (cf.size <= Wordpiece.LiteralFormMaxPieces)
          literalFormCounts(words, cf)
        else tableFormCounts(s, words, cf))
        .localCheckpoint()
      (wp, wp.count())
    }

  /** q_unigram_encode — apply the shipped model: Viterbi-segment the
    * DISTINCT words once under the final costs, broadcast the per-word
    * piece counts back to documents, and report per-doc word vs
    * subword counts plus exact fertility_ppm — the unigram sibling of
    * [[Bpe.qBpeEncode]]'s fertility statistic.
    *
    * 100 TB shape: segmentation touches only the Heaps-sublinear
    * distinct-word frame; the doc-side pass is one map-only tokenize +
    * a size-gated model join + one partial-aggregated doc-keyed rollup.
    */
  val qUnigramEncode = Q(
    "q_unigram_encode",
    (s, d) => {
      val (wp, wpRows) = wordPieceCountsWithRows(s, d)
      Distributed.modelJoin(
        Tables.documents(s, d)
          .select(col("doc_id"),
            explode(TextOps.wsTokens(lower(col("text")))).as("word")),
        wp, wpRows, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_tok"),
          sum(col("np")).as("n_subtok"))
        .select(col("doc_id"), col("n_tok"), col("n_subtok"),
          expr("CAST((CAST(n_subtok AS DECIMAL(38,0)) * 1000000) " +
            "div n_tok AS BIGINT)").as("fertility_ppm"))
        .orderBy("doc_id")
    },
    Some(
      s"""WITH RECURSIVE
         |${oracleTrainCtes()},
         |${costSql("cf", "n3")},
         |${segRoundSql(4, "cf")},
         |wp AS (SELECT word, CAST(len(pieces) AS BIGINT) AS np FROM seg4),
         |toks AS (
         |  SELECT doc_id, unnest(list_filter(string_split_regex(
         |    lower(text), '\\s+'), t -> t <> '')) AS word
         |  FROM documents)
         |SELECT doc_id, CAST(count(*) AS INT) AS n_tok,
         |  CAST(sum(np) AS BIGINT) AS n_subtok,
         |  CAST((CAST(sum(np) AS HUGEINT) * 1000000) // count(*) AS BIGINT)
         |    AS fertility_ppm
         |FROM toks JOIN wp USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    )
  )

  /** q_tokenizer_compare — the three-family tokenizer audit, per
    * language: BPE, unigram-LM, and WordPiece ([[Wordpiece]]) all
    * trained on the SAME corpus (their memoized models — one merge
    * loop, one EM loop, one likelihood-merge loop per session), all
    * applied to every document, subword totals and exact fertility_ppm
    * side by side. This is the table a pretraining team reads to pick
    * a tokenizer family and to spot per-language over-segmentation
    * before setting sampling temperatures — the cross-family
    * completion of [[Bpe.qBpeFertility]]'s single-family audit.
    *
    * 100 TB shape: all three sides segment only the Heaps-sublinear
    * distinct words under their form-gated models and size-gate-join
    * counts back; all roll up to ≤ #langs rows with partial
    * aggregation. Document text never shuffles.
    */
  val qTokenizerCompare = Q(
    "q_tokenizer_compare",
    (s, d) => {
      val (bwp, bwpRows) = Bpe.wordPieceCountsWithRows(s, d)
      val bpe = Distributed.modelJoin(
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(TextOps.wsTokens(lower(col("text")))).as("word")),
        bwp, bwpRows, Seq("word"))
        .groupBy("lang", "doc_id")
        .agg(count(lit(1)).as("d_tok"), sum(col("np")).as("d_sub"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("d_tok")).as("n_tok"),
          sum(col("d_sub")).as("bpe_subtok"))
      val (uwp, uwpRows) = wordPieceCountsWithRows(s, d)
      val uni = Distributed.modelJoin(
        Tables.documents(s, d)
          .select(col("lang"),
            explode(TextOps.wsTokens(lower(col("text")))).as("word")),
        uwp, uwpRows, Seq("word"))
        .groupBy("lang").agg(sum(col("np")).as("uni_subtok"))
      val (wwp, wwpRows) = Wordpiece.wordPieceCountsWithRows(s, d)
      val wpc = Distributed.modelJoin(
        Tables.documents(s, d)
          .select(col("lang"),
            explode(TextOps.wsTokens(lower(col("text")))).as("word")),
        wwp, wwpRows, Seq("word"))
        .groupBy("lang").agg(sum(col("np")).as("wp_subtok"))
      bpe.join(uni, "lang").join(wpc, "lang")
        .select(col("lang"), col("n_docs"), col("n_tok"),
          col("bpe_subtok"), col("uni_subtok"), col("wp_subtok"),
          expr("CAST((CAST(bpe_subtok AS DECIMAL(38,0)) * 1000000) " +
            "div n_tok AS BIGINT)").as("bpe_fertility_ppm"),
          expr("CAST((CAST(uni_subtok AS DECIMAL(38,0)) * 1000000) " +
            "div n_tok AS BIGINT)").as("uni_fertility_ppm"),
          expr("CAST((CAST(wp_subtok AS DECIMAL(38,0)) * 1000000) " +
            "div n_tok AS BIGINT)").as("wp_fertility_ppm"))
        .orderBy("lang")
    },
    Some {
      val applied = Bpe.oracleAppliedExpr("e")
      s"""WITH RECURSIVE
         |${Bpe.oracleTrainCtes},
         |${oracleTrainCtes("u")},
         |${costSql("ucf", "un3")},
         |${segRoundSql(4, "ucf", "u")},
         |${Wordpiece.oracleTrainCtes("w")},
         |${Wordpiece.oracleEncodeCtes("w")},
         |bdocs AS (
         |  SELECT lang, CAST(len(t) AS BIGINT) AS n_tok,
         |    array_to_string(list_transform(t,
         |      x -> regexp_replace(x, '(.)', chr(1) || '\\1' || chr(2), 'g')),
         |      chr(3)) AS e
         |  FROM (SELECT lang, list_filter(
         |    string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t
         |    FROM documents)
         |  WHERE len(t) > 0),
         |brol AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tok,
         |    CAST(sum(len(me) - len(replace(me, chr(1), ''))) AS BIGINT)
         |      AS bpe_subtok
         |  FROM (SELECT lang, n_tok, $applied AS me FROM bdocs)
         |  GROUP BY lang),
         |uwp AS (SELECT word, CAST(len(pieces) AS BIGINT) AS np FROM useg4),
         |urol AS (
         |  SELECT lang, CAST(sum(np) AS BIGINT) AS uni_subtok
         |  FROM (SELECT lang, unnest(list_filter(string_split_regex(
         |    lower(text), '\\s+'), t -> t <> '')) AS word FROM documents) t
         |  JOIN uwp USING (word) GROUP BY lang),
         |wrol AS (
         |  SELECT lang, CAST(sum(np) AS BIGINT) AS wp_subtok
         |  FROM (SELECT lang, unnest(list_filter(string_split_regex(
         |    lower(text), '\\s+'), t -> t <> '')) AS word FROM documents) t
         |  JOIN wwp USING (word) GROUP BY lang)
         |SELECT b.lang, b.n_docs, b.n_tok, b.bpe_subtok, u.uni_subtok,
         |  w.wp_subtok,
         |  CAST((CAST(b.bpe_subtok AS HUGEINT) * 1000000) // b.n_tok
         |    AS BIGINT) AS bpe_fertility_ppm,
         |  CAST((CAST(u.uni_subtok AS HUGEINT) * 1000000) // b.n_tok
         |    AS BIGINT) AS uni_fertility_ppm,
         |  CAST((CAST(w.wp_subtok AS HUGEINT) * 1000000) // b.n_tok
         |    AS BIGINT) AS wp_fertility_ppm
         |FROM brol b JOIN urol u USING (lang) JOIN wrol w USING (lang)
         |ORDER BY lang""".stripMargin
    }
  )

  val all: Seq[Q] = Seq(qUnigramTrain, qUnigramEncode, qTokenizerCompare)
}
