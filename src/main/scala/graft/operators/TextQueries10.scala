package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-16 text additions — the MULTI-ITERATION BPE TRAINER, the
  * vocabulary-induction loop every LLM tokenizer pipeline runs
  * (Sennrich et al. 2016; `text_bpe_pairs` was iteration 1's census
  * only, this is the full loop).
  *
  * `text_bpe_train` — [[BpeRounds]] distributed merge rounds. The
  * training state is the classic one: the DISTINCT-WORD frequency
  * table (word, corpus count, symbol sequence), never the corpus —
  * at 100 TB the corpus pass happens exactly once (the initial
  * groupBy(token) census); every round after that scans a vocab-sized
  * frame (≤ number of distinct tokens, ~1e8 at web scale — still a
  * comfortably distributed frame, and ~31 rows on this testdata).
  * Each round:
  *
  *   1. PAIR CENSUS — explode each word's adjacent symbol pairs,
  *      weight by the word's corpus count, keyed aggregate. Narrow
  *      explode + partial+final sum, the `text_bpe_pairs` shape.
  *   2. TOP MERGE — total order (weighted count desc, pair asc),
  *      limit 1: a TakeOrderedAndProject, broadcast to the merge.
  *   3. RE-TOKENIZE — symbol sequences ride as `|`-delimited strings
  *      with separators on BOTH ends (`"abc"` → `"|a|b|c|"`); merging
  *      pair (a,b) is `replace(seq, "|a|b|", "|ab|")` applied TWICE.
  *      String `replace` is left-to-right non-overlapping in both
  *      engines; back-to-back occurrences share a delimiter, so one
  *      pass can leave every other occurrence of a run unmerged —
  *      blocked occurrences are never adjacent to each other, so the
  *      second pass merges all of them. The double-replace rule
  *      equals classic leftmost-greedy BPE except inside runs of a
  *      self-pair (a=b, e.g. "aaaa"), where it merges the same
  *      NUMBER of pairs at slightly different positions — a
  *      deterministic, engine-portable total rule either way, and
  *      the oracle replays the identical rule. (`|` is safe: the
  *      corpus alphabet is `[a-z]`; Round16Spec asserts no token
  *      contains the separator.) A replacement never creates a fresh
  *      occurrence
  *      of the same round's pattern (the merged symbol `ab` can
  *      equal neither `a` nor `b` — both are non-empty), so two
  *      passes are exact, not approximate.
  *
  * Output: the ordered merge table — round, the merged pair, its
  * weighted count at merge time, and the corpus-wide symbol-
  * occurrence count after the merge (the compression curve a
  * tokenizer team reads to pick vocab size; strictly decreasing,
  * each round removes ≥1 occurrence per merged pair instance).
  *
  * Scale: per-round state is vocab-sized and localCheckpointed (the
  * 8-round lineage would otherwise nest 8 limit(1) plans); the
  * single-row top-merge frame broadcasts into the re-tokenize
  * projection, so no round shuffles anything larger than the pair
  * census. The oracle unrolls the identical 8 rounds as MATERIALIZED
  * CTEs (the graph_ktruss lesson — DuckDB inlines CTEs per
  * reference, so every round state must materialize).
  */
object TextQueries10 extends graft.QueryModule {
  /** Merge rounds trained (and unrolled in the oracle). */
  private[operators] val BpeRounds = 8

  /** Adjacent-symbol pair census of a (n, seq) state frame, weighted
    * by corpus count n. Words reduced to a single symbol drop out
    * (Spark `sequence(1, 0)` DESCENDS — it must never see size < 2). */
  private def pairCensus(state: DataFrame): DataFrame = {
    state
      .select(col("n"),
        expr("filter(split(seq, '\\\\|'), x -> x != '')").as("syms"))
      .filter(size(col("syms")) >= 2)
      .select(col("n"), explode(expr(
        """transform(sequence(1, size(syms) - 1),
          |  i -> struct(element_at(syms, i) AS sym_a,
          |              element_at(syms, i + 1) AS sym_b))""".stripMargin))
        .as("p"))
      .groupBy(col("p.sym_a").as("sym_a"), col("p.sym_b").as("sym_b"))
      .agg(sum(col("n")).as("pair_n"))
  }

  /** The full training loop: returns (final segmented vocab state —
    * (w, n, seq) after [[BpeRounds]] merges — and the per-round merge
    * rows). Shared by the trainer output, the tokenizer-apply
    * evaluation, and the induced-vocabulary census; session-memoized
    * (every round state is already an eager localCheckpoint, so the
    * memo hands consumers pinned vocab-sized frames — train once,
    * evaluate many, the tokenizer-shipping shape). */
  private val trainMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (DataFrame, Seq[DataFrame])]()
  private def bpeTrain(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) =
    trainMemo.computeIfAbsent((s, d), _ => bpeTrainRun(s, d))

  private def bpeTrainRun(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    import s.implicits._
    // One corpus pass: distinct-word frequency table, each word
    // exploded to its |-delimited character-symbol sequence.
    var state = documents(s, d)
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("n"))
      .select($"w", $"n",
        concat(lit("|"), regexp_replace($"w", "(.)", "$1|")).as("seq"))
      .localCheckpoint()
    val rows = (1 to BpeRounds).map { r =>
      val top1 = pairCensus(state)
        .orderBy($"pair_n".desc, $"sym_a".asc, $"sym_b".asc)
        .limit(1)
        .localCheckpoint() // single row; eager so each round's merge is fixed
      state = state.crossJoin(broadcast(top1))
        .withColumn("pat", concat(lit("|"), $"sym_a", lit("|"), $"sym_b", lit("|")))
        .withColumn("rep", concat(lit("|"), $"sym_a", $"sym_b", lit("|")))
        .select($"w", $"n",
          expr("replace(replace(seq, pat, rep), pat, rep)").as("seq"))
        .localCheckpoint() // vocab-sized; truncates the round lineage
      // corpus symbol occurrences after the merge: Σ n · (#'|' − 1)
      val stats = state.agg(
        sum($"n" * (length($"seq") - length(expr("replace(seq, '|', '')")) - lit(1))
          .cast("long")).as("occ_after"))
      top1.withColumn("round", lit(r.toLong))
        .crossJoin(broadcast(stats))
        .select($"round", $"sym_a", $"sym_b",
          concat($"sym_a", $"sym_b").as("merged"), $"pair_n", $"occ_after")
    }
    (state, rows)
  }

  val queries: Map[String, Q] = Map(
    "text_bpe_train" -> ((s, d) => {
      import s.implicits._
      bpeTrain(s, d)._2.reduce(_ unionByName _).orderBy($"round")
    }),

    // TOKENIZER-APPLY EVALUATION — the per-language FERTILITY table a
    // tokenizer team reads before shipping a vocab ("How Good is Your
    // Tokenizer?", Rust et al. 2021: pieces per word, chars per
    // piece): the trained segmentation is
    // exactly the final BPE state, so applying the tokenizer is one
    // broadcast join from the per-(lang, word) census to the
    // vocab-sized state — the corpus is never re-segmented (at 100 TB
    // the segmentation table is the artifact you ship, not a pass you
    // re-run). A language whose words fragment into many pieces is
    // under-served by the vocab — the fairness number multilingual
    // pipelines audit. Exact integers (milli ratios via DIV).
    "text_bpe_apply" -> ((s, d) => {
      import s.implicits._
      val state = bpeTrain(s, d)._1
        .select($"w",
          (length($"seq") - length(expr("replace(seq, '|', '')")) - lit(1))
            .cast("long").as("n_pieces_w"))
      val perLangWord = documents(s, d)
        .select($"lang", explode(split($"text", " ")).as("w"))
        .filter(length($"w") > 0)
        .groupBy($"lang", $"w").agg(count(lit(1)).as("c"))
      perLangWord.join(broadcast(state), Seq("w"))
        .groupBy($"lang")
        .agg(sum($"c").as("n_words"),
          sum($"c" * $"n_pieces_w").as("n_pieces"),
          sum($"c" * length($"w").cast("long")).as("n_chars"))
        .selectExpr("lang", "n_words", "n_pieces",
          "(1000 * n_pieces) DIV n_words AS pieces_per_word_milli",
          "(1000 * n_chars) DIV n_pieces AS chars_per_piece_milli")
        .orderBy($"lang")
    }),

    // INDUCED VOCABULARY census — the top-30 symbols (by corpus
    // occurrences) of the trained segmentation: merged subwords rise
    // above raw characters exactly when the merge table earned its
    // keep. One explode over the vocab-sized state, weighted by word
    // frequency; df = distinct words containing the symbol.
    "text_bpe_vocab" -> ((s, d) => {
      import s.implicits._
      bpeTrain(s, d)._1
        .select($"w", $"n",
          explode(expr("filter(split(seq, '\\\\|'), x -> x != '')")).as("sym"))
        .groupBy($"sym")
        .agg(sum($"n").as("n_occ"),
          countDistinct($"w").as("n_words"),
          max(length($"sym")).cast("long").as("sym_len"))
        .orderBy($"n_occ".desc, $"sym".asc)
        .limit(30)
    })
  )

  /** Shared WITH-body replaying the identical [[BpeRounds]] training
    * rounds (v0 → v8 plus per-round merge/stat CTEs) — DuckDB only
    * executes the CTEs a final SELECT actually references, so the
    * apply/vocab oracles riding only `v8` don't pay for r1..r8. */
  private[operators] lazy val bpeCteBody: String = {
    val rounds = (1 to BpeRounds).map { r =>
      val prev = s"v${r - 1}"
      s"""c$r AS (
         |  SELECT n, list_filter(string_split(seq, '|'), x -> x != '') AS syms
         |  FROM $prev),
         |p$r AS (
         |  SELECT syms, n, unnest(range(1, len(syms))) AS i FROM c$r
         |  WHERE len(syms) >= 2),
         |g$r AS (
         |  SELECT syms[i] AS sym_a, syms[i + 1] AS sym_b,
         |    CAST(SUM(n) AS BIGINT) AS pair_n
         |  FROM p$r GROUP BY 1, 2),
         |m$r AS MATERIALIZED (
         |  SELECT sym_a, sym_b, pair_n FROM g$r
         |  ORDER BY pair_n DESC, sym_a, sym_b LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT w, n,
         |    replace(replace(seq, '|' || sym_a || '|' || sym_b || '|',
         |                         '|' || sym_a || sym_b || '|'),
         |            '|' || sym_a || '|' || sym_b || '|',
         |            '|' || sym_a || sym_b || '|') AS seq
         |  FROM $prev, m$r),
         |s$r AS (
         |  SELECT CAST(SUM(n * (length(seq) - length(replace(seq, '|', '')) - 1))
         |    AS BIGINT) AS occ_after FROM v$r),
         |r$r AS (
         |  SELECT CAST($r AS BIGINT) AS round, sym_a, sym_b,
         |    sym_a || sym_b AS merged, pair_n, occ_after
         |  FROM m$r, s$r)""".stripMargin
    }.mkString(",\n")
    s"""toks AS (
       |  SELECT tok FROM (
       |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE length(tok) > 0),
       |v0 AS MATERIALIZED (
       |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS n,
       |    '|' || regexp_replace(tok, '(.)', '\\1|', 'g') AS seq
       |  FROM toks GROUP BY tok),
       |$rounds""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "text_bpe_train" -> {
      val union = (1 to BpeRounds).map(r => s"SELECT * FROM r$r")
        .mkString("\nUNION ALL ")
      s"""WITH $bpeCteBody
         |$union
         |ORDER BY round""".stripMargin
    },

    "text_bpe_apply" ->
      s"""WITH $bpeCteBody,
         |plw AS (
         |  SELECT lang, tok AS w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE length(tok) > 0 GROUP BY 1, 2),
         |st AS (
         |  SELECT w, CAST(length(seq) - length(replace(seq, '|', '')) - 1 AS BIGINT)
         |    AS n_pieces_w
         |  FROM v$BpeRounds),
         |agg AS (
         |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_words,
         |    CAST(SUM(c * n_pieces_w) AS BIGINT) AS n_pieces,
         |    CAST(SUM(c * length(w)) AS BIGINT) AS n_chars
         |  FROM plw JOIN st USING (w) GROUP BY lang)
         |SELECT lang, n_words, n_pieces,
         |  (1000 * n_pieces) // n_words AS pieces_per_word_milli,
         |  (1000 * n_chars) // n_pieces AS chars_per_piece_milli
         |FROM agg ORDER BY lang""".stripMargin,

    "text_bpe_vocab" ->
      s"""WITH $bpeCteBody,
         |syms AS (
         |  SELECT w, n, unnest(list_filter(string_split(seq, '|'), x -> x != '')) AS sym
         |  FROM v$BpeRounds)
         |SELECT sym, CAST(SUM(n) AS BIGINT) AS n_occ,
         |  CAST(count(DISTINCT w) AS BIGINT) AS n_words,
         |  CAST(MAX(length(sym)) AS BIGINT) AS sym_len
         |FROM syms GROUP BY sym
         |ORDER BY n_occ DESC, sym LIMIT 30""".stripMargin
  )
}
