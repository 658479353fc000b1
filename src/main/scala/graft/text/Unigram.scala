package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer training (Kudo 2018, the SentencePiece
  * `unigram` model) — the third major subword family beside [[Bpe]] and
  * [[WordPiece]]. Where BPE/WordPiece GROW a vocabulary bottom-up by
  * merging, unigram starts from a large SEED vocabulary of frequent
  * substrings and fits a unigram language model over pieces: a word's
  * segmentation is the one maximizing Π p(piece), and training
  * re-estimates p from the segmentations.
  *
  * This implementation runs VITERBI-EM (hard EM): each round segments
  * every word by exact Viterbi under the current model and re-estimates
  * piece probabilities from the winning segmentations' integer counts.
  * (Kudo's reference uses soft EM via forward-backward; the Viterbi
  * variant is the standard hard-EM approximation and is chosen here
  * because every statistic it produces is an INTEGER — the oracle can
  * replay training exactly, where forward-backward's real-valued
  * expected counts would make cross-engine hash comparison depend on
  * floating-point summation order.)
  *
  * Cross-engine determinism, the load-bearing design:
  *  - p(piece) = cnt/total is ONE correctly-rounded IEEE division of
  *    two exact-integer-valued doubles — bit-identical in any engine.
  *  - A path's likelihood is built by the DP recurrence
  *    best(i) = max_l best(i−l) · p(word[i−l..i)) — each value is a
  *    chain of individual IEEE multiplications in DP order, never a
  *    reassociated sum or product, so both engines materialize
  *    identical doubles.
  *  - Ties (equal products — common: the same piece multiset reordered,
  *    or zero-probability pieces) break on (fewer pieces, then the
  *    space-joined piece string ascending) — pure integer/byte-wise
  *    comparisons.
  *  - All OUTPUTS are integers and strings (piece counts, piece
  *    sequences); the doubles only ORDER candidates.
  *
  * Scale shape (the same contract as [[WordPiece]]): the corpus is
  * touched ONCE (the word-frequency aggregate); seeding is one
  * substring-explosion aggregate whose output is vocabulary-bounded;
  * each EM round is a narrow map over the word table with a BROADCAST
  * piece model (≤ seedMax + |alphabet| rows) plus one piece-count
  * aggregate collecting that same bounded row count to the driver.
  * Corpus-width application broadcast-joins the per-word segmentation
  * onto the token stream — the tokenizer itself never shuffles.
  */
object Unigram {

  /** Trained model: the FIXED seed piece set with current E-step counts
    * (zero-count pieces retained — probability 0 but still in-vocab,
    * exactly what lets the oracle replay with a LEFT JOIN), and the
    * count total the probabilities normalize by. */
  private[graft] final case class Model(counts: Seq[(String, Long)],
                                        total: Long) {
    lazy val probs: Map[String, Double] = {
      val t = total.toDouble
      counts.map { case (pc, n) => pc -> (if (total == 0L) 0.0
        else n.toDouble / t) }.toMap
    }
  }

  /** Exact Viterbi segmentation of `word` under piece probabilities,
    * mirroring the oracle's chained DP cell for cell: best(0) = (1.0,
    * 0, ""); best(i) = the (prod DESC, k ASC, path ASC)-minimal
    * candidate over l = 1..min(maxPieceLen, i) with word[i−l..i) in
    * the model. Single characters are always seeded, so every position
    * is reachable (possibly through probability-0 pieces, where the
    * tie-break alone decides). Returns (space-joined pieces, count). */
  private[graft] def viterbi(word: String, probs: Map[String, Double],
                             maxPieceLen: Int): (String, Int) = {
    val L = word.length
    val prod = new Array[Double](L + 1)
    val k = new Array[Int](L + 1)
    val path = new Array[String](L + 1)
    prod(0) = 1.0; k(0) = 0; path(0) = ""
    var i = 1
    while (i <= L) {
      var bp = 0.0
      var bk = 0
      var bs: String = null
      var l = 1
      val lMax = math.min(maxPieceLen, i)
      while (l <= lMax) {
        val piece = word.substring(i - l, i)
        val pOpt = probs.get(piece)
        if (pOpt.isDefined && path(i - l) != null) {
          val np = prod(i - l) * pOpt.get
          val nk = k(i - l) + 1
          val ns = if (path(i - l).isEmpty) piece
                   else path(i - l) + " " + piece
          val better = bs == null || np > bp ||
            (np == bp && (nk < bk || (nk == bk && ns.compareTo(bs) < 0)))
          if (better) { bp = np; bk = nk; bs = ns }
        }
        l += 1
      }
      prod(i) = bp; k(i) = bk; path(i) = bs
      i += 1
    }
    (path(L), k(L))
  }

  /** Word-frequency table (word, cnt) for tokens within the modeled
    * length range — the ONE corpus-wide pass, checkpointed because
    * seeding + every EM round + application all re-read it. */
  private def wordFreq(tokens: DataFrame, maxWordLen: Int): DataFrame =
    tokens
      .filter(length(col("tok")).between(1, maxWordLen))
      .groupBy(col("tok").as("word"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)

  /** Seed model: every substring occurrence of length ≤ maxPieceLen,
    * weighted by word frequency (a substring occurring twice in a word
    * counts twice — the occurrence count the E-step will compare
    * against); vocabulary = ALL single characters ∪ the top `seedMax`
    * pieces by (count DESC, piece ASC). The aggregate's output is
    * vocabulary-bounded; only the selected ≤ seedMax + |alphabet| rows
    * reach the driver. */
  private def seedModel(wf: DataFrame, seedMax: Int, maxPieceLen: Int)
      : Model = {
    val sub = wf.select(col("cnt"), explode(expr(
        "flatten(transform(sequence(1, length(word)), i -> " +
          s"transform(sequence(i, least(length(word), i + ${maxPieceLen - 1})), " +
          "j -> substring(word, i, j - i + 1))))")).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("scnt"))
    val singles = sub.filter(length(col("piece")) === 1)
      .select("piece", "scnt").collect()
    val top = sub.orderBy(col("scnt").desc, col("piece")).limit(seedMax)
      .select("piece", "scnt").collect()
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    (singles ++ top).foreach(r => m.update(r.getString(0), r.getLong(1)))
    val counts = m.toSeq.sortBy(_._1)
    Model(counts, counts.map(_._2).sum)
  }

  /** One Viterbi E-step: segment every word under `model` (broadcast —
    * the model is seed-bounded), count pieces weighted by word
    * frequency, and return the re-estimated model over the SAME piece
    * set (unobserved pieces keep count 0). The segmentation map is
    * narrow; only the piece-count aggregate (≤ |seed| rows) is
    * collected. */
  private def emRound(s: SparkSession, wf: DataFrame, model: Model,
                      maxPieceLen: Int): Model = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(model.probs)
    val eCounts = wf.as[(String, Long)]
      .flatMap { case (w, c) =>
        viterbi(w, bc.value, maxPieceLen)._1.split(" ").toSeq.map((_, c))
      }
      .toDF("piece", "c")
      .groupBy("piece").agg(sum(col("c")).as("cnt"))
      .as[(String, Long)].collect().toMap
    val counts = model.counts.map { case (pc, _) =>
      pc -> eCounts.getOrElse(pc, 0L)
    }
    Model(counts, counts.map(_._2).sum)
  }

  /** Train `rounds` Viterbi-EM rounds. Returns (final model, word-freq
    * table). */
  private[graft] def train(s: SparkSession, tokens: DataFrame,
                           seedMax: Int = 128, maxPieceLen: Int = 6,
                           maxWordLen: Int = 16, rounds: Int = 2)
      : (Model, DataFrame) = {
    val wf = wordFreq(tokens, maxWordLen)
    var model = seedModel(wf, seedMax, maxPieceLen)
    var t = 0
    while (t < rounds && model.total > 0) {
      model = emRound(s, wf, model, maxPieceLen)
      t += 1
    }
    (model, wf)
  }

  /** Vocabulary PRUNING — the step that makes this the actual
    * SentencePiece training loop (seed large → EM → prune to the
    * target size → EM again): keep ALL single characters (so every
    * word stays segmentable) plus the top `keep` multi-character
    * pieces by (E-count DESC, piece ASC), then re-estimate. Driver-side
    * on the seed-bounded count list. */
  private[graft] def prune(model: Model, keep: Int): Model = {
    val singles = model.counts.filter(_._1.length == 1)
    val multi = model.counts.filter(_._1.length > 1)
      .sortBy { case (pc, n) => (-n, pc) }.take(keep)
    val counts = (singles ++ multi).sortBy(_._1)
    Model(counts, counts.map(_._2).sum)
  }

  /** Prune a trained model to `keep` multi-char pieces and run one
    * more EM round under the pruned vocabulary (sharing an
    * already-trained (model, wf) pair — the cache-friendly form). */
  private[graft] def pruneAndRefit(s: SparkSession, wf: DataFrame,
                                   model: Model, maxPieceLen: Int = 6,
                                   keep: Int = 32): Model = {
    val p = prune(model, keep)
    if (p.total > 0) emRound(s, wf, p, maxPieceLen) else p
  }

  /** Train, prune to `keep` multi-char pieces, and run one more EM
    * round under the pruned vocabulary. */
  private[graft] def trainPruned(s: SparkSession, tokens: DataFrame,
                                 seedMax: Int = 128, maxPieceLen: Int = 6,
                                 maxWordLen: Int = 16, rounds: Int = 2,
                                 keep: Int = 32): (Model, DataFrame) = {
    val (m, wf) = train(s, tokens, seedMax, maxPieceLen, maxWordLen, rounds)
    (pruneAndRefit(s, wf, m, maxPieceLen, keep), wf)
  }

  /** The learned piece table — every seed piece with its final E-step
    * count (zero-count pieces retained; integers only, so the oracle
    * hash compares exact values). */
  private[graft] def pieceTable(s: SparkSession, model: Model): DataFrame = {
    import s.implicits._
    model.counts.toDF("piece", "cnt").orderBy("piece")
  }

  /** Per-word Viterbi segmentation under the trained model — the
    * tokenizer-application artifact (vocabulary-sized: broadcast-joins
    * onto a 100 TB token stream). */
  private[graft] def segment(s: SparkSession, model: Model, wf: DataFrame,
                             maxPieceLen: Int = 6): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(model.probs)
    wf.as[(String, Long)]
      .map { case (w, c) =>
        val (pieces, n) = viterbi(w, bc.value, maxPieceLen)
        (w, c, pieces, n)
      }
      .toDF("word", "cnt", "pieces", "n_pieces")
      .orderBy("word")
  }

  // ---------------------------------------------------------------- oracle

  /** One Viterbi DP chain under the model CTE `model`: cells
    * d{tag}_0..d{tag}_maxWordLen (each the (prod DESC, k ASC, path
    * ASC)-best prefix segmentation — the exact comparator [[viterbi]]
    * applies) and the winning full-word paths sg$tag. */
  private def dpChainG(tag: String, model: String, maxPieceLen: Int,
                       maxWordLen: Int): String = {
    val cells = (1 to maxWordLen).map { i =>
      val branches = (1 to math.min(maxPieceLen, i)).map { l =>
        s"""SELECT d.word, d.cnt, d.prod * v.p AS prod, d.k + 1 AS k,
           |  CASE WHEN d.path = '' THEN v.piece
           |       ELSE d.path || ' ' || v.piece END AS path
           |FROM d${tag}_${i - l} d JOIN $model v
           |  ON v.piece = substr(d.word, ${i - l + 1}, $l)
           |WHERE length(d.word) >= $i""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""d${tag}_$i AS MATERIALIZED (
         |  SELECT word, cnt, prod, k, path FROM (
         |    SELECT u.*, row_number() OVER (PARTITION BY word
         |      ORDER BY prod DESC, k ASC, path ASC) AS rn
         |    FROM (
         |$branches) u)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val fin = (1 to maxWordLen)
      .map(i => s"SELECT word, cnt, k, path FROM d${tag}_$i " +
        s"WHERE length(word) = $i")
      .mkString("\nUNION ALL\n")
    s"""d${tag}_0 AS (
       |  SELECT word, cnt, CAST(1.0 AS DOUBLE) AS prod, 0 AS k,
       |    '' AS path
       |  FROM wf),
       |$cells,
       |sg$tag AS MATERIALIZED (
       |$fin)""".stripMargin
  }

  private def dpChain(t: Int, maxPieceLen: Int, maxWordLen: Int): String =
    dpChainG(t.toString, s"pt$t", maxPieceLen, maxWordLen)

  /** The shared DuckDB training chain: wf (word frequencies), sub/seed
    * (substring seeding, pt0 the seed model), then per EM round t the
    * Viterbi pass under pt{t−1} (sg{t−1}), its E-counts e$t, and the
    * re-estimated model pt$t over the FIXED seed piece set. */
  private def chain(toksSql: String, seedMax: Int, maxPieceLen: Int,
                    maxWordLen: Int, rounds: Int): String = {
    def estep(t: Int): String =
      s"""e$t AS MATERIALIZED (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split(path, ' ')) AS piece, cnt
         |    FROM sg${t - 1})
         |  GROUP BY piece),
         |n$t AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS tot
         |        FROM e$t),
         |pt$t AS MATERIALIZED (
         |  SELECT s.piece, CAST(coalesce(e.cnt, 0) AS BIGINT) AS cnt,
         |    CASE WHEN (SELECT tot FROM n$t) = 0 THEN CAST(0.0 AS DOUBLE)
         |         ELSE CAST(coalesce(e.cnt, 0) AS DOUBLE) /
         |              CAST((SELECT tot FROM n$t) AS DOUBLE) END AS p
         |  FROM pt0 s LEFT JOIN e$t e ON e.piece = s.piece)""".stripMargin
    val roundsSql = (1 to rounds)
      .map(t => s"${dpChain(t - 1, maxPieceLen, maxWordLen)},\n${estep(t)}")
      .mkString(",\n")
    s"""WITH toks AS ($toksSql),
       |wf AS MATERIALIZED (
       |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM toks WHERE length(tok) BETWEEN 1 AND $maxWordLen
       |  GROUP BY tok),
       |sub AS MATERIALIZED (
       |  SELECT substr(word, i, l) AS piece,
       |    CAST(sum(cnt) AS BIGINT) AS scnt
       |  FROM wf,
       |    LATERAL (SELECT unnest(generate_series(1, length(word))) AS i),
       |    LATERAL (SELECT unnest(generate_series(1,
       |      least($maxPieceLen, length(word) - i + 1))) AS l)
       |  GROUP BY 1),
       |seed AS MATERIALIZED (
       |  SELECT piece, scnt AS cnt FROM sub WHERE length(piece) = 1
       |  UNION
       |  SELECT piece, cnt FROM (
       |    SELECT piece, scnt AS cnt FROM sub
       |    ORDER BY scnt DESC, piece LIMIT $seedMax)),
       |n0 AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS tot
       |       FROM seed),
       |pt0 AS MATERIALIZED (
       |  SELECT piece, cnt,
       |    CASE WHEN (SELECT tot FROM n0) = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE CAST(cnt AS DOUBLE) /
       |              CAST((SELECT tot FROM n0) AS DOUBLE) END AS p
       |  FROM seed),
       |$roundsSql""".stripMargin
  }

  /** DuckDB replay of training: the final piece table. */
  def trainOracleSql(toksSql: String, seedMax: Int = 128,
                     maxPieceLen: Int = 6, maxWordLen: Int = 16,
                     rounds: Int = 2): String =
    s"""${chain(toksSql, seedMax, maxPieceLen, maxWordLen, rounds)}
       |SELECT piece, cnt FROM pt$rounds ORDER BY piece""".stripMargin

  /** The chain extended with one more Viterbi pass (the tokenizer
    * RUNTIME) under the FINAL model — yields sg$rounds. */
  private def encodeChain(toksSql: String, seedMax: Int, maxPieceLen: Int,
                          maxWordLen: Int, rounds: Int): String =
    s"""${chain(toksSql, seedMax, maxPieceLen, maxWordLen, rounds)},
       |${dpChain(rounds, maxPieceLen, maxWordLen)}""".stripMargin

  /** DuckDB replay of [[segment]]. */
  def encodeOracleSql(toksSql: String, seedMax: Int = 128,
                      maxPieceLen: Int = 6, maxWordLen: Int = 16,
                      rounds: Int = 2): String =
    s"""${encodeChain(toksSql, seedMax, maxPieceLen, maxWordLen, rounds)}
       |SELECT word, cnt, path AS pieces, CAST(k AS INT) AS n_pieces
       |FROM sg$rounds ORDER BY word""".stripMargin

  /** DuckDB replay of [[trainPruned]]: prune pt$rounds to all singles +
    * top-`keep` multi-char pieces by (cnt DESC, piece ASC), renormalize
    * (ptP), one more Viterbi pass (sgP), and the re-estimated counts
    * over the PRUNED piece set. */
  def pruneOracleSql(toksSql: String, seedMax: Int = 128,
                     maxPieceLen: Int = 6, maxWordLen: Int = 16,
                     rounds: Int = 2, keep: Int = 32): String =
    s"""${chain(toksSql, seedMax, maxPieceLen, maxWordLen, rounds)},
       |pp AS MATERIALIZED (
       |  SELECT piece, cnt FROM pt$rounds WHERE length(piece) = 1
       |  UNION
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM pt$rounds WHERE length(piece) > 1
       |    ORDER BY cnt DESC, piece LIMIT $keep)),
       |np AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS tot FROM pp),
       |ptP AS MATERIALIZED (
       |  SELECT piece, cnt,
       |    CASE WHEN (SELECT tot FROM np) = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE CAST(cnt AS DOUBLE) /
       |              CAST((SELECT tot FROM np) AS DOUBLE) END AS p
       |  FROM pp),
       |${dpChainG("P", "ptP", maxPieceLen, maxWordLen)},
       |eP AS MATERIALIZED (
       |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split(path, ' ')) AS piece, cnt
       |    FROM sgP)
       |  GROUP BY piece)
       |SELECT s.piece, CAST(coalesce(e.cnt, 0) AS BIGINT) AS cnt
       |FROM pp s LEFT JOIN eP e ON e.piece = s.piece
       |ORDER BY s.piece""".stripMargin

  /** DuckDB replay of per-language fertility: doc tokens (keyed by
    * lang) joined to the trained segmentation, micro-unit integer
    * pieces-per-word. `docToksSql` must yield (lang, tok). */
  def fertilityOracleSql(toksSql: String, docToksSql: String,
                         seedMax: Int = 128, maxPieceLen: Int = 6,
                         maxWordLen: Int = 16, rounds: Int = 2): String =
    s"""${encodeChain(toksSql, seedMax, maxPieceLen, maxWordLen, rounds)},
       |dt AS ($docToksSql)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(sg.k) AS BIGINT) AS n_subtokens,
       |  CAST(CAST(sum(sg.k) AS BIGINT) * 1000000 // count(*) AS BIGINT)
       |    AS fertility_micro
       |FROM dt JOIN sg$rounds sg ON sg.word = dt.tok
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** DuckDB replay of corpus-width application: the doc token stream
    * joined to the per-word segmentation, per-doc word/piece counts.
    * `docToksSql` must yield (doc_id, tok). */
  def corpusOracleSql(toksSql: String, docToksSql: String,
                      seedMax: Int = 128, maxPieceLen: Int = 6,
                      maxWordLen: Int = 16, rounds: Int = 2): String =
    s"""${encodeChain(toksSql, seedMax, maxPieceLen, maxWordLen, rounds)},
       |dt AS ($docToksSql)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(sg.k) AS BIGINT) AS n_pieces
       |FROM dt JOIN sg$rounds sg ON sg.word = dt.tok
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
