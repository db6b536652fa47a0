package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer training + encoding — the third mainstream
  * tokenizer family beside BPE ([[Bpe]]) and the unigram LM
  * ([[Unigram]]): Schuster & Nakajima 2012, the trainer behind BERT's
  * vocabulary. Same merge loop as BPE but a LIKELIHOOD merge
  * criterion — pick the pair maximizing p(ab)/(p(a)p(b)), i.e.
  * cnt(ab)/(cnt(a)·cnt(b)) — and a fundamentally different encoder:
  * greedy longest-match-first against the final piece vocabulary
  * (BERT's MaxMatch), NOT a replay of the merge sequence.
  *
  * Faithfulness and stated simplifications (each deterministic and
  * mirrored exactly in the oracle):
  *  - Merge scores are quantized to parts-per-trillion by ONE exact
  *    integral division — score_ppt = (cnt(ab)·10¹²) div
  *    (cnt(a)·cnt(b)) in DECIMAL(38,0)/HUGEINT — so the argmax is
  *    exact integer arithmetic in both engines; ties break on
  *    (score DESC, left ASC, right ASC), a total order.
  *  - No '##' continuation marker: training is whole-word based (the
  *    same bracket-encoded vocabulary as [[Bpe]]), so pieces are
  *    position-free. The encoder's greedy walk — the part that defines
  *    WordPiece — is exact MaxMatch over (single chars ∪ merge
  *    products).
  *  - In-sample encoding: every character of the corpus is a piece by
  *    construction, so no [UNK] branch is needed (a word always
  *    single-char-segments in the worst case).
  *
  * Distribution shape (the 100 TB story): identical to [[Bpe]] —
  * everything after the ONE corpus token pass operates on the
  * Heaps-sublinear vocabulary; each merge step is two vocabulary-sized
  * aggregations (pair counts + unit counts), two vocabulary-sized
  * joins, and a 1-row argmax collect; the model is memoized per
  * (session, dataset). Encoding segments only the DISTINCT words (a
  * codegen-planned higher-order `aggregate` walk — no UDF) and
  * size-gate-joins per-word piece counts back to documents
  * ([[Distributed.modelJoin]]) — document
  * text never shuffles.
  *
  * Reference scope: the reference engine ships no tokenizer trainer —
  * this completes the tokenizer-family triad the LLM-pipeline brief
  * calls for.
  */
object Wordpiece {

  /** Number of merge steps to train. */
  private val K = 6

  /** Weighted symbol (unit) counts of the current vocabulary state —
    * the denominator of the WordPiece likelihood score.
    */
  private def unitCounts(v: DataFrame): DataFrame =
    v.select(
      explode(split(expr("substr(w, 2, length(w) - 2)"),
        s"${Bpe.B2}${Bpe.B1}")).as("sym"),
      col("freq"))
      .groupBy("sym").agg(sum(col("freq")).as("ucnt"))

  /** One merge row: (step, left, right, merged, pair count, quantized
    * likelihood score).
    */
  private[graft] type Merge = (Int, String, String, String, Long, Long)

  /** The trained merge table, memoized per (session, dataset) —
    * train/encode/compare share ONE merge-loop run.
    */
  private[graft] def train(s: SparkSession, d: String): Seq[Merge] =
    Similarity.memo(s, d, "wordpiece-merges") { trainUncached(s, d) }

  private def trainUncached(s: SparkSession, d: String): Seq[Merge] = {
    var v = Bpe.vocab0(s, d).localCheckpoint()
    val merges = Seq.newBuilder[Merge]
    var dry = false
    for (k <- 1 to K if !dry) {
      val uc = unitCounts(v)
      val best = Bpe.pairCounts(v)
        .join(uc.select(col("sym").as("a"), col("ucnt").as("ca")), "a")
        .join(uc.select(col("sym").as("b"), col("ucnt").as("cb")), "b")
        .select(col("a"), col("b"), col("cnt"),
          expr("CAST((CAST(cnt AS DECIMAL(38,0)) * 1000000000000) div " +
            "(CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)").as("score_ppt"))
        .orderBy(col("score_ppt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) dry = true
      else {
        val (a, b, cnt, sc) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2), best(0).getLong(3))
        merges += ((k, a, b, a + b, cnt, sc))
        v = v.withColumn("w", Bpe.mergeOnce(col("w"), a, b))
          .localCheckpoint()
      }
    }
    merges.result()
  }

  /** Greedy longest-match-first (MaxMatch) piece COUNT of one word:
    * at each position take the longest multi-char piece that matches,
    * else consume one character. The walk rides a higher-order
    * `aggregate` accumulator (pos, np) — length(w) iterations bound it,
    * active steps advance pos by the match length. `pieces` maps each
    * multi-char merge product to 1; lmax is the longest piece.
    */
  private[graft] def greedyCount(w: Column, pieces: Map[String, Int],
      lmax: Int): Column =
    aggregate(
      sequence(lit(1), length(w)),
      struct(lit(1L).as("pos"), lit(0L).as("np")),
      (acc, _) => {
        val bestl =
          if (lmax < 2 || pieces.isEmpty) lit(1)
          else {
            val cands = transform(sequence(lit(2), lit(lmax)),
              l => when((acc("pos") + l - 1 <= length(w)) &&
                element_at(typedlit(pieces),
                  w.substr(acc("pos").cast("int"), l.cast("int")))
                  .isNotNull, l).otherwise(lit(1)))
            greatest(coalesce(array_max(cands), lit(1)), lit(1))
          }
        when(acc("pos") <= length(w),
          struct((acc("pos") + bestl).as("pos"),
            (acc("np") + 1).as("np")))
          .otherwise(acc)
      },
      acc => acc("np"))

  /** Distinct lowercased words with corpus frequency — the
    * Heaps-sublinear frame the encoder segments.
    */
  private[graft] def wordsDf(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(TextOps.wsTokens(lower(col("text")))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Vocabulary-size threshold for the PHYSICAL FORM of the trained
    * encoder. Below it the vocabulary rides the plan as a typedlit
    * map ([[greedyCount]] — fastest while the literal is small: the
    * table pipeline's two extra shuffles dominate at toy sizes);
    * above it the encoder switches to [[WordpieceXl.maxMatchCounts]]'
    * vocabulary-as-table pipeline. The crossover is MEASURED
    * (graft.tools.VocabFormProbe, SCALE.md): at 4,096 pieces the
    * literal form is already 2.7× slower, at 32,768 it is 41× slower
    * with a 226k-char plan shipping in every task closure — so a
    * production 32k+ vocabulary must never take the literal arm.
    */
  private[graft] val LiteralFormMaxPieces = 1024

  /** The literal-form walk over the trained pieces (the ≤ threshold
    * arm), factored so the form-gate spec can compare arms directly.
    */
  private[graft] def literalFormCounts(words: DataFrame,
      pieceSet: Seq[String]): DataFrame = {
    val pieces = pieceSet.map(_ -> 1).toMap
    val lmax = if (pieces.isEmpty) 1 else pieces.keys.map(_.length).max
    words.select(col("word"),
      greedyCount(col("word"), pieces, lmax).as("np"))
  }

  /** The table-form walk (the > threshold arm): the trained pieces
    * become a one-column frame and the encoder runs
    * [[WordpieceXl.maxMatchCounts]] — vocabulary as data, no literal.
    */
  private[graft] def tableFormCounts(s: SparkSession, words: DataFrame,
      pieceSet: Seq[String]): DataFrame = {
    import s.implicits._
    val lmax = if (pieceSet.isEmpty) 1 else pieceSet.map(_.length).max
    val vocab = pieceSet.toDF("piece")
    WordpieceXl.maxMatchCounts(words, vocab, pieceSet.size.toLong,
      math.max(lmax, 2))
  }

  /** Per-distinct-word MaxMatch piece counts served from a PERSISTED
    * vocabulary table (piece) — the [[ModelStore]] serving path,
    * [[Bpe.servedCounts]]'s sibling: the same form gate, but the
    * model arrives as a stored FRAME with its manifest row count
    * instead of a this-session training memo. At/below
    * [[LiteralFormMaxPieces]] the vocabulary is collected into the
    * codegen'd literal walk (a ≤ 1,024-row collect, bounded by the
    * gate itself); above it the frame feeds
    * [[WordpieceXl.maxMatchCounts]] directly — storage → join build
    * side, no driver materialization (lmax is one 1-row aggregate
    * over the model table).
    */
  private[graft] def servedCounts(s: SparkSession, words: DataFrame,
      vocab: DataFrame, vRows: Long): DataFrame =
    if (vRows <= LiteralFormMaxPieces) {
      val pieceSet = vocab.select("piece").collect()
        .map(_.getString(0)).toSeq
      literalFormCounts(words, pieceSet)
    } else {
      val lmax = vocab.agg(max(length(col("piece"))))
        .collect()(0).getInt(0)
      WordpieceXl.maxMatchCounts(words, vocab.select("piece"), vRows,
        math.max(lmax, 2))
    }

  /** Per-distinct-word greedy piece counts under the trained model —
    * memoized WITH the frame's row count (for the doc-side join's
    * size gate) and pinned so encode and the triad compare share ONE
    * token pass + MaxMatch walk per (session, dataset). The physical
    * form is gated on the vocabulary size ([[LiteralFormMaxPieces]]);
    * both arms compute identical MaxMatch counts (spec-pinned).
    */
  private[graft] def wordPieceCountsWithRows(s: SparkSession, d: String)
      : (DataFrame, Long) =
    Similarity.memo(s, d, "wordpiece-wpc") {
      val pieceSet = train(s, d).map(_._4).distinct
      val words = wordsDf(s, d)
      val wp = (if (pieceSet.size <= LiteralFormMaxPieces)
          literalFormCounts(words, pieceSet)
        else tableFormCounts(s, words, pieceSet))
        .localCheckpoint()
      (wp, wp.count())
    }

  // --------------------------------------------------------- oracle SQL

  /** The shared train chain, name-prefixed with `p`: v0 (bracket-
    * encoded vocab, [[Bpe]]'s construction), then K unrolled steps of
    * (unit counts u_k, scored pair argmax m_k, replace v_k) — the
    * chr(4) sentinel makes an EMPTY m_k (pairs ran dry) a no-op.
    */
  private[graft] def oracleTrainCtes(p: String = ""): String = {
    val v0 =
      s"""${p}v0 AS MATERIALIZED (
         |  SELECT regexp_replace(word, '(.)', chr(1) || '\\1' || chr(2), 'g') AS w,
         |    count(*) AS freq
         |  FROM (SELECT unnest(list_filter(
         |    string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS word
         |    FROM documents)
         |  GROUP BY 1)""".stripMargin
    val steps = (1 to K).map { k =>
      s"""${p}u$k AS MATERIALIZED (
         |  SELECT sym, CAST(sum(freq) AS BIGINT) AS ucnt FROM (
         |    SELECT unnest(string_split(substr(w, 2, len(w) - 2),
         |      chr(2) || chr(1))) AS sym, freq
         |    FROM ${p}v${k - 1})
         |  GROUP BY 1),
         |${p}m$k AS MATERIALIZED (
         |  SELECT $k AS step, a, b, a || b AS merged, cnt,
         |    CAST((CAST(cnt AS HUGEINT) * 1000000000000) //
         |      (CAST(ua.ucnt AS HUGEINT) * ub.ucnt) AS BIGINT) AS score_ppt
         |  FROM (
         |    SELECT s[i] AS a, s[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |    FROM (SELECT string_split(substr(w, 2, len(w) - 2),
         |            chr(2) || chr(1)) AS s, freq FROM ${p}v${k - 1})
         |    , UNNEST(range(1, len(s))) AS u(i)
         |    GROUP BY 1, 2) pc
         |  JOIN ${p}u$k ua ON pc.a = ua.sym
         |  JOIN ${p}u$k ub ON pc.b = ub.sym
         |  ORDER BY score_ppt DESC, a ASC, b ASC LIMIT 1),
         |${p}v$k AS MATERIALIZED (
         |  SELECT replace(w,
         |    coalesce(chr(1) || m.a || chr(2) || chr(1) || m.b || chr(2),
         |      chr(4)),
         |    coalesce(chr(1) || m.merged || chr(2), chr(4))) AS w, freq
         |  FROM ${p}v${k - 1} LEFT JOIN ${p}m$k m ON TRUE)""".stripMargin
    }
    (v0 +: steps).mkString(",\n")
  }

  /** The greedy-encoder CTEs (pieces table, distinct words, recursive
    * MaxMatch walk) — mirrors [[greedyCount]] exactly; `{p}wp` ends as
    * (word, np).
    */
  private[graft] def oracleEncodeCtes(p: String = ""): String = {
    val union = (1 to K).map(k => s"SELECT merged FROM ${p}m$k")
      .mkString(" UNION ALL ")
    s"""${p}pieces AS MATERIALIZED (
       |  SELECT DISTINCT merged AS piece FROM ($union)),
       |${p}words AS MATERIALIZED (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(text),
       |      '\\s+'), t -> t <> '')) AS word
       |    FROM documents) GROUP BY 1),
       |${p}gwalk AS (
       |  SELECT word, freq, CAST(1 AS BIGINT) AS pos,
       |    CAST(0 AS BIGINT) AS np,
       |    (SELECT map(list(piece), list(1)) FROM ${p}pieces) AS m,
       |    (SELECT coalesce(max(len(piece)), 1) FROM ${p}pieces) AS lmax
       |  FROM ${p}words
       |  UNION ALL
       |  SELECT word, freq, pos + bestl, np + 1, m, lmax
       |  FROM (
       |    SELECT word, freq, pos, np, m, lmax,
       |      greatest(coalesce(list_max(list_transform(
       |        range(2, lmax + 1),
       |        l -> CASE WHEN pos + l - 1 <= len(word)
       |               AND map_extract(m, substr(word, CAST(pos AS INT),
       |                 CAST(l AS INT)))[1] IS NOT NULL
       |             THEN l ELSE 1 END)), 1), 1) AS bestl
       |    FROM ${p}gwalk WHERE pos <= len(word)) t),
       |${p}wp AS MATERIALIZED (
       |  SELECT word, np FROM ${p}gwalk WHERE pos = len(word) + 1)"""
      .stripMargin
  }

  /** q_wordpiece_train — the trained merge table: (step, left, right,
    * merged, pair count, quantized likelihood score), the ordered
    * model artifact. Reads beside [[Bpe.qBpeTrain]]: same corpus, same
    * merge mechanics, likelihood argmax instead of frequency argmax.
    */
  val qWordpieceTrain = Q(
    "q_wordpiece_train",
    (s, d) => {
      import s.implicits._
      train(s, d)
        .toDF("step", "a", "b", "merged", "cnt", "score_ppt")
        .orderBy("step")
    },
    Some {
      val union = (1 to K).map(k => s"SELECT * FROM m$k")
        .mkString(" UNION ALL ")
      s"""WITH ${oracleTrainCtes()}
         |SELECT CAST(step AS INT) AS step, a, b, merged, cnt, score_ppt
         |FROM ($union) ORDER BY step""".stripMargin
    }
  )

  /** q_wordpiece_encode — BERT-style greedy longest-match encoding of
    * every document under the trained vocabulary: per-doc word vs
    * piece counts plus exact fertility_ppm, the triad sibling of
    * [[Bpe.qBpeEncode]] and [[Unigram.qUnigramEncode]].
    *
    * 100 TB shape: the MaxMatch walk touches only the Heaps-sublinear
    * distinct words; the doc-side pass is one map-only tokenize + a
    * size-gated model join + one partial-aggregated doc-keyed rollup.
    */
  val qWordpieceEncode = Q(
    "q_wordpiece_encode",
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
         |${oracleEncodeCtes()},
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

  /** q_tokenizer_vocab_overlap — pairwise multi-char-piece overlap of
    * the three trained families (BPE merge products, unigram-LM
    * surviving multis, WordPiece merge products): set sizes,
    * intersection, and exact Jaccard_ppm per pair. The companion of
    * q_tokenizer_compare: compare tells you how each family SEGMENTS;
    * this tells you how much the learned vocabularies themselves
    * agree — the diagnostic read before sharing embeddings or
    * migrating a corpus between tokenizers.
    *
    * 100 TB shape: all three models are memoized (one training run
    * each per session, shared with their train/encode queries); the
    * overlap arithmetic runs driver-side on the model-sized sets
    * (tens of rows here, ≤ vocabulary budget in production) — zero
    * additional corpus work. Jaccard_ppm is one exact integral
    * division.
    */
  val qTokenizerVocabOverlap = Q(
    "q_tokenizer_vocab_overlap",
    (s, d) => {
      val bpe = Bpe.train(s, d).map(_._4).toSet
      val uni = Unigram.train(s, d).vocab.map(_._1)
        .filter(_.length > 1).toSet
      val wp = train(s, d).map(_._4).toSet
      val fams = Seq("bpe" -> bpe, "unigram" -> uni, "wordpiece" -> wp)
      import s.implicits._
      (for {
        i <- fams.indices; j <- fams.indices if i < j
        (fa, va) = fams(i); (fb, vb) = fams(j)
      } yield {
        val common = (va & vb).size.toLong
        val union  = (va | vb).size.toLong
        (fa, fb, va.size.toLong, vb.size.toLong, common,
          if (union == 0) 0L else common * 1000000L / union)
      }).toDF("fam_a", "fam_b", "n_a", "n_b", "n_common", "jaccard_ppm")
        .orderBy("fam_a", "fam_b")
    },
    Some {
      val bUnion = (1 to Bpe.kSteps).map(k => s"SELECT merged FROM m$k")
        .mkString(" UNION ALL ")
      val wUnion = (1 to K).map(k => s"SELECT merged FROM wm$k")
        .mkString(" UNION ALL ")
      s"""WITH RECURSIVE
         |${Bpe.oracleTrainCtes},
         |${Unigram.oracleTrainCtes("u")},
         |${oracleTrainCtes("w")},
         |bv AS (SELECT DISTINCT merged AS piece FROM ($bUnion)),
         |uv AS (SELECT piece FROM un3 WHERE len(piece) > 1),
         |wv AS (SELECT DISTINCT merged AS piece FROM ($wUnion)),
         |pairs AS (
         |  SELECT 'bpe' AS fam_a, 'unigram' AS fam_b,
         |    (SELECT count(*) FROM bv) AS n_a,
         |    (SELECT count(*) FROM uv) AS n_b,
         |    (SELECT count(*) FROM bv JOIN uv USING (piece)) AS n_common
         |  UNION ALL
         |  SELECT 'bpe', 'wordpiece',
         |    (SELECT count(*) FROM bv), (SELECT count(*) FROM wv),
         |    (SELECT count(*) FROM bv JOIN wv USING (piece))
         |  UNION ALL
         |  SELECT 'unigram', 'wordpiece',
         |    (SELECT count(*) FROM uv), (SELECT count(*) FROM wv),
         |    (SELECT count(*) FROM uv JOIN wv USING (piece)))
         |SELECT fam_a, fam_b, CAST(n_a AS BIGINT) AS n_a,
         |  CAST(n_b AS BIGINT) AS n_b, CAST(n_common AS BIGINT) AS n_common,
         |  CAST(CASE WHEN n_a + n_b - n_common = 0 THEN 0
         |    ELSE (CAST(n_common AS HUGEINT) * 1000000) //
         |      (n_a + n_b - n_common) END AS BIGINT) AS jaccard_ppm
         |FROM pairs ORDER BY fam_a, fam_b""".stripMargin
    }
  )

  val all: Seq[Q] =
    Seq(qWordpieceTrain, qWordpieceEncode, qTokenizerVocabOverlap)
}
