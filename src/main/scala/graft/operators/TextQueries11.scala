package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-17 text additions — the UNIGRAM-LM TOKENIZER TRAINER
  * (SentencePiece, Kudo 2018), completing the tokenizer-induction pair
  * with `text_bpe_train`: BPE grows a vocabulary bottom-up by merges;
  * unigram seeds a LARGE candidate vocabulary and prunes it top-down
  * under a per-piece likelihood, re-estimating piece counts from each
  * word's best segmentation (EM).
  *
  * Deterministic integer contract (what makes the whole loop
  * hash-gateable — the `ml_kmeans_lloyd`/BPE oracle discipline):
  *
  *  - SEED — every substring of length 1..[[MaxPiece]] of the
  *    distinct-word table, occurrence-weighted by corpus count; keep
  *    all single characters (the coverage floor SentencePiece also
  *    enforces) + the top-[[SeedV]] multi-char substrings under the
  *    total order (count desc, piece asc).
  *  - E-STEP — the O(m·[[MaxPiece]]) VITERBI DP over word prefixes
  *    ([[viterbiSegment]]; the r17 ask #6 formulation — no word-
  *    length cap). A segmentation is valid iff every piece is in
  *    the current vocab; its score is Σ_p (bitlen(max(c_p, 1)) −
  *    bitlen(T)) with bitlen = length(bin(·)) (exact on both
  *    engines) and T the current vocab's total count mass — the
  *    integer quantization of the true unigram log-likelihood
  *    Σ log₂ p(piece): each piece contributes
  *    ⌊log₂ c_p⌋ + 1 − bitlen(T) ≈ log₂(c_p/T), so the −k·log T
  *    mass penalizes over-segmentation exactly as SentencePiece's
  *    objective does (without it every word would shatter into
  *    single characters, whose corpus counts are the largest).
  *    Argmax under (score desc, k asc, seg asc) — a total order
  *    that is prefix-decomposable, so the DP pick is identical to
  *    exhaustive enumeration over the compositions of the word's
  *    length into parts ≤ [[MaxPiece]] — which is exactly what the
  *    ORACLE replays as a plan-time VALUES literal (≤ 108
  *    compositions per ≤ 8-char word; this corpus's words are ≤ 8
  *    chars of [a-z], so oracle and DP agree bit-for-bit, and
  *    Round18Spec pins the equality beyond the literal's cap).
  *  - M-STEP — new piece counts = Σ over words of n_w × (uses of the
  *    piece in the word's best segmentation).
  *  - PRUNE — keep the character floor (re-counted; characters unused
  *    as single-char pieces carry count 0 and the scoring floor
  *    max(c, 1)) + the top-[[PruneV]] multi-char pieces by the same
  *    total order. [[EmRounds]] rounds unrolled; the oracle replays
  *    each as MATERIALIZED CTEs (the graph_ktruss lesson).
  *
  * Scale at 100 TB: the corpus is scanned ONCE (the distinct-word
  * census — the BPE trainer's shape); every EM round scans the
  * vocab-sized word table joined to a BROADCAST composition literal.
  * Per-word lattice work is bounded by the composition count of the
  * word's length (a constant once piece length and word length are
  * capped — real SentencePiece caps both; for longer words the
  * enumerate-all formulation swaps for the O(m·MaxPiece) Viterbi DP,
  * same argmax, same totals). Nothing is corpus-quadratic and nothing
  * sorts globally: the argmax is a per-word window over ≤ 108 rows
  * and each prune is a TakeOrdered over the piece census.
  */
object TextQueries11 extends graft.QueryModule {
  private[operators] val MaxW = 8
  private[operators] val MaxPiece = 4
  private[operators] val SeedV = 24
  private[operators] val PruneV = 16
  private[operators] val EmRounds = 3

  /** All compositions of m into parts ≤ [[MaxPiece]] for m ≤ [[MaxW]],
    * with 1-based start offsets; `sid` numbers them per m in the
    * lexicographic order of their length tuples — the oracle's VALUES
    * literal (the enumeration formulation the DuckDB twin replays;
    * the Spark path runs the equivalent Viterbi DP). */
  private[operators] val comps: Seq[(Int, Int, Seq[(Int, Int)])] = {
    def go(rem: Int): Seq[Seq[Int]] =
      if (rem == 0) Seq(Seq.empty)
      else (1 to math.min(MaxPiece, rem)).flatMap(l => go(rem - l).map(l +: _))
    (1 to MaxW).flatMap { m =>
      go(m).sortBy(_.mkString(",")).zipWithIndex.map { case (lens, i) =>
        val starts = lens.scanLeft(1)(_ + _).init
        (m, i + 1, starts.zip(lens))
      }
    }
  }

  /** Word census row / best-segmentation row for the DP encoder. */
  private[operators] case class UniWord(w: String, n: Long)
  private[operators] case class UniSeg(w: String, n: Long, k: Int,
      score: Long, seg: String)

  /** (score desc, k asc, seg asc) — the argmax total order shared with
    * the oracle's ROW_NUMBER window. seg comparison is plain binary
    * string order (ASCII corpus; '|' = 0x7C sorts after [a-z]). */
  private def better(a: (Long, Int, String), b: (Long, Int, String)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && (a._2 < b._2 ||
      (a._2 == b._2 && a._3 < b._3)))

  /** VITERBI E-STEP (r17 verdict ask #6): the O(m·MaxPiece) DP over
    * word prefixes — `best(i)` is the best segmentation of `w[0,i)`
    * under the (score desc, k asc, seg asc) total order; transition =
    * append one vocab piece of length ≤ maxPiece. The order is
    * prefix-decomposable (score and k are additive; at equal (score,
    * k) two prefix segs have equal string length, so their first
    * differing byte survives any common suffix), so keeping ONE best
    * state per position reproduces the exhaustive-enumeration argmax
    * exactly — Round18Spec pins DP ≡ enumeration on words LONGER than
    * the old composition literal's 8-char cap, and the oracle (which
    * replays the ≤[[MaxW]] composition literal) stays hash-identical
    * on this corpus. Scale: per-word work is m·MaxPiece with no
    * candidate blowup in word length; the model rides in as a
    * broadcast vocab-sized score map; zero shuffle. */
  private[graft] def viterbiSegment(s: SparkSession, words: DataFrame,
      scores: Map[String, Long], maxPiece: Int = MaxPiece): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(scores)
    words.select($"w", $"n").as[UniWord].mapPartitions { it =>
      val sc = bc.value
      it.flatMap { case UniWord(w, n) =>
        val m = w.length
        val best = new Array[(Long, Int, String)](m + 1)
        best(0) = (0L, 0, "")
        var i = 1
        while (i <= m) {
          var chosen: (Long, Int, String) = null
          var l = 1
          val lmax = math.min(maxPiece, i)
          while (l <= lmax) {
            val prev = best(i - l)
            if (prev != null) {
              sc.get(w.substring(i - l, i)) match {
                case Some(ps) =>
                  val cand = (prev._1 + ps, prev._2 + 1,
                    if (i - l == 0) w.substring(i - l, i)
                    else prev._3 + "|" + w.substring(i - l, i))
                  if (chosen == null || better(cand, chosen)) chosen = cand
                case None =>
              }
            }
            l += 1
          }
          best(i) = chosen
          i += 1
        }
        // a word with no valid segmentation drops (the enumeration's
        // all-pieces-scored validity filter; never fires under the
        // char floor)
        Option(best(m)).map(b => UniSeg(w, n, b._2, b._1, b._3))
      }
    }.toDF()
  }

  /** Bit-length score map from a collected (p, c) vocab — the model
    * the DP broadcasts: s(p) = bitlen(max(c,1)) − bitlen(T), the same
    * integer quantization the oracle computes in SQL. Vocab-sized
    * (≤ 26 chars + [[SeedV]] multi-char pieces). */
  private[graft] def bitlenScores(vrows: Array[Row]): Map[String, Long] = {
    val total = vrows.map(r => math.max(r.getLong(1), 1L)).sum
    val sT = java.lang.Long.toBinaryString(total).length.toLong
    vrows.map(r => r.getString(0) ->
      (java.lang.Long.toBinaryString(math.max(r.getLong(1), 1L)).length.toLong - sT))
      .toMap
  }

  /** Memoized training run: (final vocab (p, c), final best
    * segmentations (w, n, sid, k, score, seg), per-round stat rows) —
    * train once, read from all three gate entries (the tokenizer-
    * shipping shape, same discipline as the BPE memo). */
  private val trainMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (DataFrame, DataFrame, Seq[DataFrame])]()
  private def train(s: SparkSession, d: String): (DataFrame, DataFrame, Seq[DataFrame]) =
    trainMemo.computeIfAbsent((s, d), _ => trainRun(s, d))

  private def trainRun(s: SparkSession, d: String): (DataFrame, DataFrame, Seq[DataFrame]) = {
    import s.implicits._
    val words = documents(s, d)
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("n"))
      .localCheckpoint()

    // seed: occurrence-weighted substring census
    val subs = words
      .withColumn("l", explode(sequence(lit(1), lit(MaxPiece))))
      .filter($"l" <= length($"w"))
      .withColumn("st", explode(sequence(lit(1), length($"w") - $"l" + 1)))
      .select(expr("substring(w, st, l)").as("p"), $"n")
      .groupBy($"p").agg(sum($"n").as("c"))
      .localCheckpoint()
    val charInv = subs.filter(length($"p") === 1).select($"p").localCheckpoint()
    var vocab = subs.filter(length($"p") === 1)
      .unionByName(subs.filter(length($"p") >= 2)
        .orderBy($"c".desc, $"p".asc).limit(SeedV))
      .localCheckpoint()

    var best: DataFrame = null
    val stats = (1 to EmRounds).map { r =>
      // E-step (VITERBI DP, r17 ask #6): the round's model is the
      // vocab-sized bit-length score map — collected once (≤ 26 +
      // SeedV rows, the 16-row-IVF-model collect class) and broadcast
      // into the per-word O(m·MaxPiece) DP. Replaces the composition-
      // literal enumeration join (≤108 candidate rows per word, and a
      // hard 8-char word cap); the oracle still replays the
      // enumeration, pinned hash-identical by the argmax total order.
      val scores = bitlenScores(vocab.collect())
      best = viterbiSegment(s, words, scores).localCheckpoint()
      // M-step: piece usage in the chosen segmentations — derived by
      // re-splitting each word's ONE best seg string (k ≤ m pieces),
      // not by re-joining a candidate lattice. bestPieces re-derives
      // lazily from the checkpointed `best` (a vocab-of-words-sized
      // frame) — cheaper than its own checkpoint job per round.
      val bestPieces = best
        .select($"w", $"n", explode(split($"seg", "\\|")).as("p"))
      val usedPieces = bestPieces.groupBy($"p").agg(sum($"n").as("c"))
        .localCheckpoint()
      // prune: character floor + top-PruneV multi-char pieces
      val charsV = charInv.join(usedPieces, Seq("p"), "left")
        .select($"p", coalesce($"c", lit(0L)).as("c"))
      val multiV = usedPieces.filter(length($"p") >= 2)
        .orderBy($"c".desc, $"p".asc).limit(PruneV)
      vocab = charsV.unionByName(multiV).localCheckpoint()
      // per-round coverage row
      val wordAgg = best.agg(sum($"n").as("nw"),
        sum($"n" * $"k").as("npieces"),
        sum($"n" * length($"w").cast("long")).as("nchars"))
      val covAgg = bestPieces
        .agg(sum(when(length($"p") >= 2, $"n" * length($"p").cast("long"))
          .otherwise(0L)).as("multi_chars"))
      val vAgg = vocab.agg(count(lit(1)).as("vocab_size"),
        sum(when(length($"p") >= 2, 1L).otherwise(0L)).as("n_multi"))
      wordAgg.crossJoin(broadcast(covAgg)).crossJoin(broadcast(vAgg))
        .select(lit(r.toLong).as("round"), $"vocab_size", $"n_multi",
          expr("(1000 * npieces) DIV nw").as("ppw_milli"),
          expr("(1000 * multi_chars) DIV nchars").as("cov_milli"))
    }
    (vocab, best, stats)
  }

  /** Shared fertility-evaluation frame (the text_bpe_apply shape) —
    * read by both the apply entry and the tokenizer bake-off. */
  private def unigramApply(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val segK = train(s, d)._2.select($"w", $"k".cast("long").as("n_pieces_w"))
    val perLangWord = documents(s, d)
      .select($"lang", explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"lang", $"w").agg(count(lit(1)).as("c"))
    perLangWord.join(broadcast(segK), Seq("w"))
      .groupBy($"lang")
      .agg(sum($"c").as("n_words"),
        sum($"c" * $"n_pieces_w").as("n_pieces"),
        sum($"c" * length($"w").cast("long")).as("n_chars"))
      .selectExpr("lang", "n_words", "n_pieces",
        "(1000 * n_pieces) DIV n_words AS pieces_per_word_milli",
        "(1000 * n_chars) DIV n_pieces AS chars_per_piece_milli")
      .orderBy($"lang")
  }

  val queries: Map[String, Q] = Map(
    // Per-round training curve: vocab size after prune, multi-char
    // piece count, pieces-per-word and multi-char char coverage (the
    // compression/fairness curve a tokenizer team reads per round).
    "text_unigram_train" -> ((s, d) => {
      import s.implicits._
      train(s, d)._3.reduce(_ unionByName _).orderBy($"round")
    }),

    // Final per-word Viterbi segmentation under the pruned vocab.
    "text_unigram_segment" -> ((s, d) => {
      import s.implicits._
      train(s, d)._2
        .select($"w", $"n", $"k".cast("long").as("k"), $"score", $"seg")
        .orderBy($"w")
    }),

    // TOKENIZER-APPLY FERTILITY per language (Rust et al. 2021 —
    // pieces/word, chars/piece), the text_bpe_apply twin for the
    // unigram vocab: with BOTH trainers emitting the same table, the
    // BPE-vs-unigram fertility comparison is one join away — the
    // decision a tokenizer team actually makes. One broadcast join
    // from the per-(lang, word) census to the vocab-sized trained
    // segmentation; the corpus is never re-segmented.
    "text_unigram_apply" -> ((s, d) => unigramApply(s, d)),

    // TOKENIZER BAKE-OFF — the side-by-side table the team reads to
    // pick a tokenizer: per-language BPE vs unigram fertility from the
    // two apply tables (each vocab-sized; one lang-keyed join of two
    // ≤|langs| frames). Positive ppw_delta_milli = unigram fragments
    // MORE than BPE on that language.
    "text_tokenizer_compare" -> ((s, d) => {
      import s.implicits._
      val b = TextQueries10.queries("text_bpe_apply")(s, d).select($"lang",
        $"pieces_per_word_milli".as("bpe_ppw_milli"),
        $"chars_per_piece_milli".as("bpe_cpp_milli"))
      val u = unigramApply(s, d).select($"lang",
        $"pieces_per_word_milli".as("uni_ppw_milli"),
        $"chars_per_piece_milli".as("uni_cpp_milli"))
      b.join(u, Seq("lang"))
        .select($"lang", $"bpe_ppw_milli", $"uni_ppw_milli",
          ($"uni_ppw_milli" - $"bpe_ppw_milli").as("ppw_delta_milli"),
          $"bpe_cpp_milli", $"uni_cpp_milli")
        .orderBy($"lang")
    }),

    // The pruned vocabulary itself (the artifact you ship) — the FULL
    // character floor + top-PruneV multi-char pieces, no display cap
    // (Round17Spec reads it to validate every shipped segmentation).
    "text_unigram_vocab" -> ((s, d) => {
      import s.implicits._
      train(s, d)._1
        .orderBy($"c".desc, $"p".asc)
        .select($"p", $"c", length($"p").cast("long").as("plen"))
    })
  )

  /** Composition literal rendered for the oracle — the same
    * [[comps]] value the Spark frame is built from. */
  private lazy val compValues: String = comps.map { case (m, sid, ps) =>
    s"($m, $sid, ${ps.size}, [${ps.map(_._1).mkString(",")}], [${ps.map(_._2).mkString(",")}])"
  }.mkString(", ")

  /** Shared WITH-body replaying the identical seed + [[EmRounds]] EM
    * rounds (vc0 → vc3, best1 → best3, stat1 → stat3). */
  private lazy val uniCteBody: String = {
    val rounds = (1 to EmRounds).map { r =>
      val prev = s"vc${r - 1}"
      s"""sc$r AS (
         |  SELECT p, CAST(length(bin(greatest(c, 1))) AS BIGINT)
         |    - (SELECT CAST(length(bin(CAST(SUM(greatest(c, 1)) AS BIGINT)))
         |         AS BIGINT) FROM $prev) AS s
         |  FROM $prev),
         |ok$r AS MATERIALIZED (
         |  SELECT w, sid, CAST(SUM(s) AS BIGINT) AS score
         |  FROM pieces JOIN sc$r USING (p) GROUP BY w, sid
         |  HAVING count(*) = MAX(k)),
         |best$r AS MATERIALIZED (
         |  SELECT w, n, sid, k, score, seg FROM (
         |    SELECT g.w, g.n, g.sid, g.k, o.score, g.seg,
         |      ROW_NUMBER() OVER (PARTITION BY g.w
         |        ORDER BY o.score DESC, g.k ASC, g.seg ASC) AS rn
         |    FROM ok$r o JOIN segs g ON o.w = g.w AND o.sid = g.sid)
         |  WHERE rn = 1),
         |used$r AS MATERIALIZED (
         |  SELECT pc.p, CAST(SUM(b.n) AS BIGINT) AS c
         |  FROM best$r b JOIN pieces pc ON b.w = pc.w AND b.sid = pc.sid
         |  GROUP BY pc.p),
         |vc$r AS MATERIALIZED (
         |  SELECT ci.p, CAST(COALESCE(u.c, 0) AS BIGINT) AS c
         |  FROM charinv ci LEFT JOIN used$r u ON ci.p = u.p
         |  UNION ALL
         |  SELECT p, c FROM (
         |    SELECT p, c FROM used$r WHERE length(p) >= 2
         |    ORDER BY c DESC, p LIMIT $PruneV)),
         |stat$r AS (
         |  SELECT CAST($r AS BIGINT) AS round,
         |    (SELECT CAST(count(*) AS BIGINT) FROM vc$r) AS vocab_size,
         |    (SELECT CAST(SUM(CASE WHEN length(p) >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |       FROM vc$r) AS n_multi,
         |    (SELECT (1000 * CAST(SUM(n * k) AS BIGINT)) // CAST(SUM(n) AS BIGINT)
         |       FROM best$r) AS ppw_milli,
         |    (SELECT 1000 * CAST(SUM(CASE WHEN length(pc.p) >= 2
         |          THEN b.n * length(pc.p) ELSE 0 END) AS BIGINT)
         |        FROM best$r b JOIN pieces pc ON b.w = pc.w AND b.sid = pc.sid)
         |      // (SELECT CAST(SUM(n * length(w)) AS BIGINT) FROM best$r)
         |      AS cov_milli)""".stripMargin
    }.mkString(",\n")
    s"""words AS MATERIALIZED (
       |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE length(tok) > 0 GROUP BY tok),
       |comp AS (SELECT * FROM (VALUES $compValues) t(m, sid, k, starts, lens)),
       |segs AS MATERIALIZED (
       |  SELECT v.w, v.n, c.sid, c.k,
       |    array_to_string(list_transform(range(1, c.k + 1),
       |      i -> substring(v.w, c.starts[i], c.lens[i])), '|') AS seg
       |  FROM words v JOIN comp c ON length(v.w) = c.m),
       |pieces AS MATERIALIZED (
       |  SELECT w, n, sid, k, substring(w, starts[i], lens[i]) AS p
       |  FROM (SELECT v.w, v.n, c.sid, c.k, c.starts, c.lens,
       |          unnest(range(1, c.k + 1)) AS i
       |        FROM words v JOIN comp c ON length(v.w) = c.m)),
       |subs AS MATERIALIZED (
       |  SELECT substring(w, st, l) AS p, CAST(SUM(n) AS BIGINT) AS c
       |  FROM (SELECT w, n, l, unnest(range(1, length(w) - l + 2)) AS st
       |        FROM (SELECT w, n, unnest(range(1, ${MaxPiece + 1})) AS l FROM words)
       |        WHERE l <= length(w))
       |  GROUP BY 1),
       |charinv AS MATERIALIZED (SELECT p FROM subs WHERE length(p) = 1),
       |vc0 AS MATERIALIZED (
       |  SELECT p, c FROM subs WHERE length(p) = 1
       |  UNION ALL
       |  SELECT p, c FROM (
       |    SELECT p, c FROM subs WHERE length(p) >= 2
       |    ORDER BY c DESC, p LIMIT $SeedV)),
       |$rounds""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "text_unigram_train" -> {
      val union = (1 to EmRounds).map(r => s"SELECT * FROM stat$r")
        .mkString("\nUNION ALL ")
      s"""WITH $uniCteBody
         |$union
         |ORDER BY round""".stripMargin
    },

    "text_unigram_segment" ->
      s"""WITH $uniCteBody
         |SELECT w, n, CAST(k AS BIGINT) AS k, score, seg
         |FROM best$EmRounds ORDER BY w""".stripMargin,

    "text_unigram_vocab" ->
      s"""WITH $uniCteBody
         |SELECT p, c, CAST(length(p) AS BIGINT) AS plen
         |FROM vc$EmRounds ORDER BY c DESC, p""".stripMargin,

    "text_tokenizer_compare" ->
      s"""WITH ${TextQueries10.bpeCteBody},
         |$uniCteBody,
         |bplw AS (
         |  SELECT lang, tok AS w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE length(tok) > 0 GROUP BY 1, 2),
         |bst AS (
         |  SELECT w, CAST(length(seq) - length(replace(seq, '|', '')) - 1 AS BIGINT)
         |    AS np
         |  FROM v8),
         |bagg AS (
         |  SELECT lang,
         |    (1000 * CAST(SUM(c * np) AS BIGINT)) // CAST(SUM(c) AS BIGINT)
         |      AS bpe_ppw_milli,
         |    (1000 * CAST(SUM(c * length(w)) AS BIGINT)) // CAST(SUM(c * np) AS BIGINT)
         |      AS bpe_cpp_milli
         |  FROM bplw JOIN bst USING (w) GROUP BY lang),
         |ust AS (SELECT w, CAST(k AS BIGINT) AS np FROM best$EmRounds),
         |uagg AS (
         |  SELECT lang,
         |    (1000 * CAST(SUM(c * np) AS BIGINT)) // CAST(SUM(c) AS BIGINT)
         |      AS uni_ppw_milli,
         |    (1000 * CAST(SUM(c * length(w)) AS BIGINT)) // CAST(SUM(c * np) AS BIGINT)
         |      AS uni_cpp_milli
         |  FROM bplw JOIN ust USING (w) GROUP BY lang)
         |SELECT lang, bpe_ppw_milli, uni_ppw_milli,
         |  uni_ppw_milli - bpe_ppw_milli AS ppw_delta_milli,
         |  bpe_cpp_milli, uni_cpp_milli
         |FROM bagg JOIN uagg USING (lang) ORDER BY lang""".stripMargin,

    "text_unigram_apply" ->
      s"""WITH $uniCteBody,
         |plw AS (
         |  SELECT lang, tok AS w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE length(tok) > 0 GROUP BY 1, 2),
         |st AS (SELECT w, CAST(k AS BIGINT) AS n_pieces_w FROM best$EmRounds),
         |agg AS (
         |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_words,
         |    CAST(SUM(c * n_pieces_w) AS BIGINT) AS n_pieces,
         |    CAST(SUM(c * length(w)) AS BIGINT) AS n_chars
         |  FROM plw JOIN st USING (w) GROUP BY lang)
         |SELECT lang, n_words, n_pieces,
         |  (1000 * n_pieces) // n_words AS pieces_per_word_milli,
         |  (1000 * n_chars) // n_pieces AS chars_per_piece_milli
         |FROM agg ORDER BY lang""".stripMargin
  )
}
