package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-frequency curation operators: signals that need a statistic of
  * the WHOLE corpus (line document-frequency, unigram counts) rather than
  * any single document. Both are two-phase plans — one corpus-wide
  * map-combinable aggregate producing a compact model (frequent-line set,
  * vocabulary), then a map-heavy scoring/stripping pass joined against
  * that model — the only shape that holds up when the corpus is 100 TB
  * and the model is megabytes.
  *
  * Reference scope: the reference engine (MobileTeleSystems/onetl) moves
  * data and delegates transforms to Spark; these operators cover the
  * CCNet-style curation stage a training-data pipeline runs on top of
  * that movement layer.
  */
object Corpus {

  /** CCNet-style line-level boilerplate removal (Wenzek et al. 2019
    * deduplicate common lines before LM filtering): a line whose TRIMMED
    * form occurs in at least `minDocs` distinct documents is boilerplate
    * (cookie banners, navigation bars, copyright footers) and is stripped
    * from every document. Blank lines are document structure, never
    * boilerplate: they are excluded from frequency counting and always
    * kept, so paragraph breaks survive cleaning.
    *
    * Returns one row per input document:
    * (idCol, n_kept long, n_dropped long, cleaned string) — `cleaned` is
    * the surviving lines re-joined with \n ('' when every line was
    * boilerplate).
    *
    * Scale shape: posexplode is map-side; document frequency is
    * distinct-(line,id) + count — two map-combinable shuffles over line
    * text; the frequent set is bounded by total_lines / minDocs entries
    * (tiny for any real threshold), so AQE broadcasts the anti-join; the
    * rebuild shuffles (id, pos, line) once. At 100 TB substitute
    * fingerprint64(line) for the raw line in the frequency count and join
    * to shuffle 8 bytes per line instead of text — kept as raw strings
    * here so the DuckDB oracle compares exact line content.
    */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       minDocs: Int): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would strip every non-blank line")
    // NULL text = a document with ZERO lines → (0, 0, ''). Without the
    // isNotNull guard it would half-vanish: posexplode(split(NULL))
    // yields no line rows while size(split(NULL)) is NULL (or -1 under
    // legacy sizeOfNull), leaving n_dropped NULL instead of 0. Distinct
    // from text='' (ONE blank line, which is structure and is kept).
    val lines = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val frequent = lines
      .filter(trim(col("__line")) =!= "")
      .select(trim(col("__line")).as("__nline"), col("__id"))
      .distinct()
      .groupBy(col("__nline")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__nline"))
    val kept = lines.join(frequent,
      trim(col("__line")) === col("__nline"), "left_anti")
    val rebuilt = kept.groupBy(col("__id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          array_sort(collect_list(struct(col("__pos"), col("__line"))))
            .getField("__line"), "\n").as("cleaned"))
    // left join back so a fully-boilerplate document still yields a row
    // (n_kept = 0, cleaned = '') instead of silently vanishing
    // when() not coalesce: size(NULL) is NULL under ANSI but -1 under
    // legacy sizeOfNull — branch on the input, not the size result
    df.select(col(idCol).as("__id"),
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(split(col(textCol), "\n")).cast("long"))
          .as("__n_total"))
      .join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Intra-document duplicate-line removal (keep-first): web scrapes
    * repeat chrome WITHIN a page (a nav bar rendered top and bottom, a
    * share-widget after every paragraph), which inflates token counts and
    * teaches an LM to loop. Unlike [[stripBoilerplate]] this needs NO
    * corpus statistic — the decision is purely per-document — so it runs
    * before corpus-level cleaning and on any fragment of the corpus
    * independently. A line is dropped iff its TRIMMED form already
    * occurred at an earlier position in the SAME document; blank lines
    * are document structure and always survive (both paragraph breaks of
    * "a\n\n\nb" are kept).
    *
    * Returns one row per input document:
    * (idCol, n_kept long, n_dropped long, cleaned string).
    *
    * Scale shape: keep-first is a row_number window PARTITIONED BY
    * (document, trimmed line) — a far finer key than the document alone,
    * so one skewed mega-document cannot pin a partition; the rebuild is
    * the same (id)-keyed sort-aggregate as [[stripBoilerplate]]. Two
    * shuffles of (id, pos, line), nothing corpus². At 100 TB run the
    * window over fingerprint64(line) and re-join the survivors'
    * positions to the raw lines so the wide text column rides only the
    * rebuild shuffle. */
  /** C4's page/line cleaning rules (Raffel et al. 2020, arXiv:1910.10683
    * §2.2 — the original "Colossal Clean Crawled Corpus" filter; the
    * reference's quality gates cover Gopher-style document heuristics,
    * this is the line-granular web-page sibling):
    *
    *  - a LINE survives iff it ends in a terminal punctuation mark
    *    (`. ! ? "`), has at least `minLineWords` whitespace words, and
    *    does not contain the word "javascript" (case-insensitive);
    *  - the PAGE is kept iff at least `minKeptLines` lines survive AND
    *    the raw page contains neither "lorem ipsum" (case-insensitive)
    *    nor a curly brace.
    *
    * One posexplode + one doc-keyed aggregation: line verdicts are
    * map-side row-local regex/count checks, the page flags fold in the
    * same aggregate, and only (id, pos, line) ever shuffles — the same
    * shape as [[stripBoilerplate]] without the corpus-frequency pass.
    *
    * Output: one row per non-NULL-text doc — (id, n_lines, n_kept, keep,
    * clean_md5 of the surviving lines '\n'-rejoined in order; md5('')
    * when nothing survives). */
  def c4LineFilter(df: DataFrame, idCol: String, textCol: String,
                   minLineWords: Int = 5, minKeptLines: Int = 3): DataFrame = {
    require(minLineWords >= 1 && minKeptLines >= 1,
      s"thresholds must be positive: $minLineWords, $minKeptLines")
    val lines = df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        lower(col(textCol)).contains("lorem ipsum").as("__lorem"),
        col(textCol).contains("{").as("__brace"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val judged = lines.withColumn("__ok",
      col("__line").rlike("[.!?\"]$") &&
        size(TextFunctions.tokens(col("__line"))) >= minLineWords &&
        !lower(col("__line")).contains("javascript"))
    judged.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__ok"), 1L).otherwise(0L)).as("n_kept"),
        first(col("__lorem")).as("__lorem"),
        first(col("__brace")).as("__brace"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__ok"), struct(col("__pos"), col("__line"))))),
            x => x.getField("__line")),
          "\n").as("__clean"))
      .select(col(idCol), col("n_lines"), col("n_kept"),
        (col("n_kept") >= minKeptLines && !col("__lorem") && !col("__brace"))
          .as("keep"),
        md5(col("__clean")).as("clean_md5"))
  }

  /** Mixed-language detection: run [[TextFunctions.langId]] per LINE and
    * aggregate per document — `n_lines` (non-blank), `n_langs` (distinct
    * line languages), `major_lang` (most frequent; ties break to the
    * alphabetically first language), `minority_frac` (share of lines NOT
    * in the majority language, round(6)). Code-switched or wrongly
    * concatenated crawl documents show `n_langs > 1` with a high
    * minority fraction — the standard cut before monolingual training.
    *
    * Two map-combinable aggregations keyed by doc; the majority pick is
    * a `min(struct(-cnt, lang))` — no rank window. Documents with no
    * non-blank line emit no row (no denominator). */
  def languageMixStats(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val lines = df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), "\n")).as("__line"))
      .filter(trim(col("__line")) =!= "")
      .select(col(idCol), TextFunctions.langId(col("__line")).as("__lang"))
    val counts = lines.groupBy(col(idCol), col("__lang"))
      .agg(count(lit(1)).as("__cnt"))
    counts.groupBy(col(idCol))
      .agg(sum(col("__cnt")).as("n_lines"),
        count(lit(1)).as("n_langs"),
        min(struct((col("__cnt") * -1).as("__neg"),
          col("__lang").as("__l"))).as("__top"))
      .select(col(idCol), col("n_lines"), col("n_langs"),
        col("__top.__l").as("major_lang"),
        round(lit(1.0) + col("__top.__neg").cast("double") / col("n_lines"), 6)
          .as("minority_frac"))
  }

  def dedupLinesWithinDoc(df: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val kept = lines
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__id"), trim(col("__line")))
          .orderBy(col("__pos"))))
      .filter(trim(col("__line")) === "" || col("__rn") === 1)
    val rebuilt = kept.groupBy(col("__id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          array_sort(collect_list(struct(col("__pos"), col("__line"))))
            .getField("__line"), "\n").as("cleaned"))
    // left join back: NULL-text docs (zero lines) keep a (0, 0, '') row —
    // same contract and same when()-not-coalesce reasoning as
    // stripBoilerplate (size(NULL) is NULL under ANSI, -1 under legacy)
    df.select(col(idCol).as("__id"),
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(split(col(textCol), "\n")).cast("long"))
          .as("__n_total"))
      .join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Corpus-unigram negative log-likelihood — a KenLM-free perplexity
    * proxy (CCNet ranks documents by LM perplexity; with no external LM
    * in scope the corpus itself is the model): p(w) = count(w) / N over
    * lowercased ASCII-letter tokens, each document scored by the mean
    * -ln p(w) of its tokens. Low = built from common words
    * (boilerplate-like); high = rare-word-heavy (often noise). Every
    * token seen at scoring time was counted at training time, so no
    * smoothing term is needed and the score is exact.
    *
    * Returns (idCol, n_toks long, nll double rounded to 4 dp — the
    * rounding absorbs sub-ulp ln/summation differences across engines so
    * the DuckDB oracle hash-matches).
    *
    * Scale shape: token counting is the word-count pattern (map-side
    * combine, shuffles (token, count) pairs); Zipf keeps the vocabulary
    * orders of magnitude below the corpus, so AQE broadcasts the
    * vocab-join against the token stream; N rides a one-row broadcast;
    * the per-doc mean is one more map-combinable aggregate. Nothing in
    * the plan is proportional to corpus² and no text leaves the scan
    * stage except the (token, id) pairs.
    */
  /** Interpolated-bigram NLL — one rung up the ladder from
    * [[unigramNll]] toward CCNet's 5-gram KenLM: each bigram position
    * (w1, w2) scores -ln( λ·p(w2|w1) + (1−λ)·p(w2) ) with
    * p(w2|w1) = c(w1 w2)/c(w1) and p(w2) = c(w2)/N, all counts from the
    * corpus itself. Every scored bigram was counted (same corpus), so
    * c(w1 w2) ≥ 1 and no discounting is needed; the unigram
    * interpolation still matters — it rewards common-word continuations
    * over one-off juxtapositions. Documents with fewer than two tokens
    * return (id, 0 bigrams, NULL nll), same contract as [[unigramNll]].
    *
    * Returns (idCol, n_bigrams long, nll double rounded to 4 dp).
    *
    * Scale shape: bigram extraction is MAP-SIDE (zip the token array
    * with its own tail — no positional self-join); bigram counting is
    * the word-count pattern on the (w1,w2) key; the scoring joins are
    * keyed on the bigram and its two unigrams (Zipf keeps the unigram
    * vocab broadcastable; the bigram table shuffles but is a keyed
    * equi-join, never a cross); N rides a 1-row broadcast. Nothing is
    * O(corpus²). */
  def bigramNll(df: DataFrame, idCol: String, textCol: String,
                lambda: Double = 0.7): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val toksArr = df.select(col(idCol).as("__id"),
      filter(split(lower(col(textCol)), "[^a-z]+"), t => t =!= "").as("__a"))
    val bigrams = toksArr
      .filter(size(col("__a")) >= 2)
      .select(col("__id"), explode(zip_with(
        slice(col("__a"), lit(1), size(col("__a")) - 1),
        slice(col("__a"), lit(2), size(col("__a")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .select(col("__id"), col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2"))
    val uni = toksArr.select(col("__id"), explode(col("__a")).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c1"))
    val total = uni.agg(sum(col("__c1")).as("__n"))
    val bi = bigrams.groupBy(col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__c2"))
    val scored = bigrams
      .join(bi, Seq("__w1", "__w2"))
      .join(uni.select(col("__t").as("__w1"), col("__c1").as("__cw1")), Seq("__w1"))
      .join(uni.select(col("__t").as("__w2"), col("__c1").as("__cw2")), Seq("__w2"))
      .crossJoin(broadcast(total))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(
          lit(lambda) * col("__c2").cast("double") / col("__cw1") +
            lit(1.0 - lambda) * col("__cw2").cast("double") / col("__n"))), 4)
          .as("nll"))
    df.select(col(idCol).as("__id"))
      .join(scored, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("nll"))
  }

  /** Trigram language-model NLL with STUPID BACKOFF (Brants et al.,
    * EMNLP 2007) — the web-scale backoff scheme: no discounting, no
    * normalization, just counts and a fixed backoff factor, which is
    * exactly what survives at 100 TB (every table is a word-count-shaped
    * aggregate; Kneser-Ney's continuation counts need another full pass
    * and buy little at this corpus size — the paper's point). This is
    * the CCNet-style perplexity rung above [[bigramNll]]: score test
    * documents against a TRAIN corpus, so unseen trigrams actually
    * exercise the backoff chain:
    *
    *   S(w₃|w₁w₂) = c₃(w₁w₂w₃)/c₂(w₁w₂)            if c₃ > 0
    *              = α · c₂(w₂w₃)/c₁(w₂)             else if c₂(w₂w₃) > 0
    *              = α² · (c₁(w₃)+1)/(N+V)           otherwise
    *
    * (the last rung is Laplace-floored so OOV words score finitely; α =
    * 0.4 per the paper). Returns one row per test doc: (idCol,
    * n_trigrams long — 0 for docs under 3 tokens, nll double round(4) —
    * mean −ln S, NULL when nothing scored).
    *
    * Scale shape: three count tables (uni/bi/tri) are map-combinable
    * aggregates over train; scoring is the test trigram frame
    * left-joined against them on narrow ngram keys — no driver state,
    * no windows. round(4) absorbs sub-ulp ln/summation-order drift
    * between engines, the family's established device. */
  def trigramNllBackoff(train: DataFrame, test: DataFrame, idCol: String,
                        textCol: String, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    def toks(df: DataFrame) = df.select(col(idCol).as("__id"),
      filter(split(lower(col(textCol)), "[^a-z]+"), t => t =!= "").as("__a"))
    def trigrams(arr: DataFrame) = arr
      .filter(size(col("__a")) >= 3)
      .select(col("__id"), explode(expr(
        "transform(sequence(0, size(__a) - 3), " +
          "i -> struct(__a[i] AS w1, __a[i+1] AS w2, __a[i+2] AS w3))"))
        .as("__t3"))
      .select(col("__id"), col("__t3.w1").as("__w1"),
        col("__t3.w2").as("__w2"), col("__t3.w3").as("__w3"))
    val trArr = toks(train)
    val uni = trArr.select(explode(col("__a")).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c1"))
    val totals = uni.agg(sum(col("__c1")).as("__n"),
      count(lit(1)).as("__v"))
    val bi = trArr.filter(size(col("__a")) >= 2)
      .select(explode(zip_with(
        slice(col("__a"), lit(1), size(col("__a")) - 1),
        slice(col("__a"), lit(2), size(col("__a")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .groupBy(col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2"))
      .agg(count(lit(1)).as("__c2"))
    val tri = trigrams(trArr)
      .groupBy(col("__w1"), col("__w2"), col("__w3"))
      .agg(count(lit(1)).as("__c3"))
    val teArr = toks(test)
    val score =
      when(col("__c3").isNotNull,
        col("__c3").cast("double") / col("__c2uv"))
      .when(col("__c2vw").isNotNull,
        lit(alpha) * col("__c2vw").cast("double") / col("__c1v"))
      .otherwise(lit(alpha * alpha) *
        (coalesce(col("__c1w"), lit(0L)) + lit(1L)).cast("double") /
        (col("__n") + col("__v")).cast("double"))
    val scored = trigrams(teArr)
      .join(tri, Seq("__w1", "__w2", "__w3"), "left")
      .join(bi.select(col("__w1"), col("__w2"), col("__c2").as("__c2uv")),
        Seq("__w1", "__w2"), "left")
      .join(bi.select(col("__w1").as("__w2"), col("__w2").as("__w3"),
        col("__c2").as("__c2vw")), Seq("__w2", "__w3"), "left")
      .join(uni.select(col("__t").as("__w2"), col("__c1").as("__c1v")),
        Seq("__w2"), "left")
      .join(uni.select(col("__t").as("__w3"), col("__c1").as("__c1w")),
        Seq("__w3"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_trigrams"),
        (round(avg(-log(score)), 4) + lit(0.0)).as("nll"))
    test.select(col(idCol).as("__id"))
      .join(scored, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        col("nll"))
  }

  /** Snapshot delta between two corpus versions — the report an
    * incremental pipeline keys on ("what changed since the last crawl"):
    * every id is classified added / removed / changed / unchanged by
    * full-outer-joining the two versions on the id and comparing content
    * digests. Returns (idCol, status string).
    *
    * Scale shape: digests are computed IN the scan stage, so the
    * full-outer join — the one unavoidable shuffle — moves 16-byte
    * hashes plus ids, never text; downstream incremental work (re-embed
    * the changed set, retire the removed set from indexes) joins back by
    * id. NULL text digests as the empty string, so a NULL→'' edit
    * counts as unchanged rather than NULL-poisoning the compare. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("__id"),
      md5(coalesce(col(textCol), lit(""))).as("__oh"))
    val n = newDf.select(col(idCol).as("__id"),
      md5(coalesce(col(textCol), lit(""))).as("__nh"))
    o.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__oh").isNull, lit("added"))
          .when(col("__nh").isNull, lit("removed"))
          .when(col("__oh") === col("__nh"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Pointwise-mutual-information collocations: the adjacent word pairs
    * that co-occur far beyond chance — `pmi = ln(c₁₂·N / (c₁·c₂))` —
    * which is the corpus's multi-word-expression table ("new york",
    * "machine learning"). Tokenizer builders use it to sanity-check
    * merges; curation uses it to spot template artifacts (a spammy
    * collocation with huge PMI and huge count is boilerplate the
    * frequency threshold missed). `minCount` suppresses the classic
    * PMI pathology (hapax pairs score highest; with c₁₂ = c₁ = c₂ = 1,
    * pmi = ln N regardless of meaning).
    *
    * Returns top-`k` rows (w1, w2, n_pair long, pmi double round 4) by
    * (pmi desc, w1, w2) — rounded BEFORE ranking, term tiebreaks, so
    * the cut replays across engines.
    *
    * Scale shape: bigram extraction is map-side (token array zipped
    * with its own tail, as [[bigramNll]]); pair and unigram counting
    * are word-count aggregates; the scoring joins are keyed on the pair
    * and its words (Zipf-broadcastable); N rides a 1-row broadcast; the
    * top-k is TakeOrderedAndProject, not a global sort. */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Long = 5, k: Int = 50): DataFrame = {
    require(minCount >= 1 && k >= 1, "minCount and k must be >= 1")
    val toksArr = df.select(
      filter(split(lower(col(textCol)), "[^a-z]+"), t => t =!= "").as("__a"))
    val bigrams = toksArr.filter(size(col("__a")) >= 2)
      .select(explode(zip_with(
        slice(col("__a"), lit(1), size(col("__a")) - 1),
        slice(col("__a"), lit(2), size(col("__a")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val uni = toksArr.select(explode(col("__a")).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
    val total = uni.agg(sum(col("__c")).as("__n"))
    bigrams
      .join(uni.select(col("__t").as("w1"), col("__c").as("__c1")), Seq("w1"))
      .join(uni.select(col("__t").as("w2"), col("__c").as("__c2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log(col("n_pair").cast("double") * col("__n") /
          (col("__c1") * col("__c2"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** CORPUS-WIDE first-occurrence line dedup (the exact line-level form
    * of Lee et al. 2022's "Deduplicating Training Data Makes Language
    * Models Better" substring dedup): a non-blank line survives only in
    * the FIRST document (by id, then position) where its trimmed form
    * appears; every later copy anywhere in the corpus is dropped.
    * Stronger than [[stripBoilerplate]] (which only removes lines
    * frequent enough to cross a threshold, and removes ALL copies) and
    * than [[dedupLinesWithinDoc]] (which never looks across documents).
    *
    * Returns (idCol, n_kept long, n_dropped long, cleaned string) —
    * one row per document, same contract as the other rebuilds.
    *
    * Scale shape: first-occurrence is a MIN-AGGREGATE on the trimmed
    * line (map-side combinable — a line repeated a billion times folds
    * to one (line, min) row per partition, so the hot-line skew a
    * row_number window would serialize never materializes), joined back
    * on the line to filter. First-occurrence order is min over the
    * (doc, pos) STRUCT — lexicographic, no packing, so any id range and
    * any document length are safe (the r10 packed-long formulation
    * collided past 2^20 lines). */
  def dedupLinesAcrossDocs(df: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val lines = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val encoded = lines.withColumn("__ord",
      struct(col("__id"), col("__pos")))
    val firsts = encoded.filter(trim(col("__line")) =!= "")
      .groupBy(trim(col("__line")).as("__nline"))
      .agg(min(col("__ord")).as("__first"))
    val kept = encoded
      .join(firsts, trim(col("__line")) === col("__nline"), "left")
      .filter(trim(col("__line")) === "" || col("__ord") === col("__first"))
    val rebuilt = kept.groupBy(col("__id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          array_sort(collect_list(struct(col("__pos"), col("__line"))))
            .getField("__line"), "\n").as("cleaned"))
    df.select(col(idCol).as("__id"),
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(split(col(textCol), "\n")).cast("long"))
          .as("__n_total"))
      .join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Collapse consecutive repeated words — "the the the model model" →
    * "the model" — the de-stuttering cleanup for ASR transcripts, OCR
    * output, and generation loops (immediately-repeated tokens teach an
    * LM to loop harder). A word is dropped iff it equals the previous
    * word of the SAME document case-insensitively; rebuilding joins
    * survivors with single spaces (original whitespace is not
    * preserved, same contract as the other rebuilds). Regex
    * backreferences could express this only engine-locked (RE2 has
    * none), so the lag-window form IS the portable definition.
    *
    * Returns (idCol, n_kept long, n_dropped long, cleaned string);
    * NULL/whitespace-only text yields (0, 0, '').
    *
    * Scale shape: identical to [[dedupLinesWithinDoc]] — the lag window
    * partitions by document (pos order), the rebuild is the (id)-keyed
    * sort-aggregate. The window key here is the document alone (lag
    * needs full order), so a pathological mega-document serializes in
    * one task: chunk such docs first ([[Packing]]) — documented bound,
    * not a silent one. */
  def collapseRepeatedTokens(df: DataFrame, idCol: String,
                             textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(filter(split(col(textCol), "\\s+"), w => w =!= ""))
          .as(Seq("__pos", "__w")))
    val kept = words
      .withColumn("__prev", lag(lower(col("__w")), 1).over(
        Window.partitionBy(col("__id")).orderBy(col("__pos"))))
      .filter(col("__prev").isNull || col("__prev") =!= lower(col("__w")))
    val rebuilt = kept.groupBy(col("__id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          array_sort(collect_list(struct(col("__pos"), col("__w"))))
            .getField("__w"), " ").as("cleaned"))
    df.select(col(idCol).as("__id"),
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(filter(split(col(textCol), "\\s+"), w => w =!= ""))
            .cast("long")).as("__n_total"))
      .join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Lexical-diversity audit per source: token count, vocabulary size,
    * and type-token ratio for every value of `sourceCol` — the quick
    * corpus-QA table that catches a source gone repetitive (template
    * spam drives TTR toward 0) or a tokenizer mishap (TTR near 1 on a
    * large source means the "words" are unique junk). Sources whose
    * documents contain no tokens still appear, with (0, 0, NULL) — a
    * silent disappearance is exactly what this audit must not do.
    *
    * Returns (sourceCol, n_toks long, vocab long, ttr double rounded 6).
    *
    * Scale shape: one word-count aggregate on (source, token) + a
    * per-source rollup — both map-side combinable; the source list for
    * the completeness join is |sources| rows and broadcasts. */
  def typeTokenRatioBySource(df: DataFrame, sourceCol: String,
                             textCol: String): DataFrame = {
    val toks = df.select(col(sourceCol).as("__src"),
      explode(filter(split(lower(col(textCol)), "[^a-z]+"),
        t => t =!= "")).as("__t"))
    val ag = toks.groupBy(col("__src"), col("__t"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__src"))
      .agg(sum(col("__c")).as("n_toks"), count(lit(1)).as("vocab"))
    df.select(col(sourceCol).as("__src")).distinct()
      .join(ag, Seq("__src"), "left")
      .select(col("__src").as(sourceCol),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("vocab"), lit(0L)).as("vocab"),
        round(try_divide(col("vocab").cast("double"), col("n_toks")), 6)
          .as("ttr"))
  }

  /** Distributional drift between two corpus snapshots: Jensen–Shannon
    * divergence of their unigram distributions — the number a pipeline
    * alarms on when a new crawl's language shifted (spam influx, a
    * domain gone dark, a scraper bug), where [[corpusDiff]] only says
    * WHICH documents changed. JS over KL because it is symmetric,
    * defined when a token exists on one side only, and bounded by ln 2 —
    * thresholds stay meaningful across corpora.
    *
    * Returns ONE row: (n_old long, n_new long, vocab long, js double) —
    * total tokens per side, union vocabulary size, and
    * `JS(P‖Q) = ½ Σ p·ln(p/m) + ½ Σ q·ln(q/m)` with `m = (p+q)/2`,
    * rounded to 6 dp for cross-engine parity. A side with zero tokens
    * makes `js` NULL (drift from nothing is undefined, not 0 or ln 2).
    *
    * Scale shape: two word-count aggregates (map-side combine), one
    * vocab-sized full-outer join — Zipf keeps the vocabulary orders of
    * magnitude under the corpus — totals ride a 1-row broadcast, and
    * the final fold is a single scalar aggregate. Nothing touches
    * document text after the scan stage. */
  def unigramJsDivergence(oldDf: DataFrame, newDf: DataFrame,
                          textCol: String): DataFrame = {
    def counts(df: DataFrame, as: String) = df
      .select(explode(filter(split(lower(col(textCol)), "[^a-z]+"),
        t => t =!= "")).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as(as))
    val joined = counts(oldDf, "__co")
      .join(counts(newDf, "__cn"), Seq("__t"), "full_outer")
      .select(col("__t"), coalesce(col("__co"), lit(0L)).as("__co"),
        coalesce(col("__cn"), lit(0L)).as("__cn"))
    val totals = joined.agg(sum(col("__co")).as("__no"),
      sum(col("__cn")).as("__nn"))
    joined.crossJoin(broadcast(totals))
      .select(col("__co"), col("__cn"), col("__no"), col("__nn"),
        // try_divide: a zero-token side must flow through as NULL (the
        // final guard reports NULL drift), not throw under ANSI mode
        try_divide(col("__co").cast("double"), col("__no")).as("__p"),
        try_divide(col("__cn").cast("double"), col("__nn")).as("__q"))
      .withColumn("__m", (col("__p") + col("__q")) / 2)
      .agg(max(col("__no")).as("__tno"), max(col("__nn")).as("__tnn"),
        count(lit(1)).as("vocab"),
        sum(
          when(col("__co") > 0,
            lit(0.5) * col("__p") * log(col("__p") / col("__m")))
            .otherwise(lit(0.0)) +
          when(col("__cn") > 0,
            lit(0.5) * col("__q") * log(col("__q") / col("__m")))
            .otherwise(lit(0.0))).as("__js_raw"))
      // an empty side leaves 0/0 = NaN in the fold — surface the
      // undefinedness as NULL, not NaN (and not a fake 0 drift)
      .select(coalesce(col("__tno"), lit(0L)).as("n_old"),
        coalesce(col("__tnn"), lit(0L)).as("n_new"),
        col("vocab"),
        when(col("__tno") > 0 && col("__tnn") > 0,
          round(col("__js_raw"), 6))
          .otherwise(lit(null).cast("double")).as("js"))
  }

  def unigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("__id"),
      explode(filter(split(lower(col(textCol)), "[^a-z]+"),
        t => t =!= "")).as("__t"))
    val counts = toks.groupBy(col("__t")).agg(count(lit(1)).as("__c"))
    val total = counts.agg(sum(col("__c")).as("__n"))
    val scored = toks.join(counts, Seq("__t"))
      .crossJoin(broadcast(total))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_toks"),
        round(avg(-log(col("__c").cast("double") / col("__n"))), 4).as("nll"))
    // left-join back to the input so token-less documents (NULL text, or
    // no ASCII-letter runs at all) keep their row as (id, 0, NULL nll)
    // instead of silently vanishing through the inner explode+join —
    // "one row per document" means every document, scoreable or not
    df.select(col(idCol).as("__id"))
      .join(scored, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        col("nll"))
  }

  /** fastText-style document quality scoring: average the per-token
    * weights of a BROADCAST vocabulary and squash through a logistic —
    * score = σ(bias + Σ w(tok) / (n_toks · scale)) — the linear-model
    * shape of the quality classifiers used to filter web corpora
    * (fastText in CCNet/GPT-3 data work), with the embedding lookup
    * replaced by a scalar weight per type. Out-of-vocabulary tokens
    * weigh 0 but still count in n_toks, exactly like an OOV bucket.
    *
    * `vocab` must be (word string, weight double) and SMALL (it rides a
    * broadcast hash join against the exploded token stream — the 100 TB
    * path: the corpus shuffles only (doc, partial-sum) rows into the
    * per-doc aggregate, never tokens). For bit-reproducible scores
    * across engines, pass INTEGER-VALUED weights with the magnitude in
    * `scale`: integer sums are exact in any accumulation order, so the
    * only float steps are one division and the final exp.
    *
    * Returns one row per input document: (idCol, n_toks long, score
    * double, UNROUNDED); token-less documents score σ(bias). */
  /** CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2019,
    * §4.3): within each LANGUAGE, rank documents by LM perplexity and
    * cut the ranking into terciles — `head` (most fluent third),
    * `middle`, `tail`. CCNet trains a 5-gram KenLM per language on
    * Wikipedia; this uses the corpus-trained interpolated bigram NLL
    * ([[bigramNll]]) as the perplexity proxy, which preserves the
    * operator's shape (per-language percentile cut on an LM score).
    * Documents too short to score (fewer than 2 tokens → NULL nll) get
    * bucket `unscored` rather than polluting a tercile.
    *
    * Ranks use within-language percent rank on the ROUNDED nll — ties
    * share a rank in every engine, so bucket assignment replays exactly;
    * the boundaries are pr < 1/3 and pr < 2/3 on the exact rational
    * (rank−1)/(n−1), identical in IEEE double everywhere.
    *
    * Returns (idCol, langCol, nll double, bucket string). Scale shape:
    * [[bigramNll]]'s two-phase vocab plan plus one per-language window —
    * languages number in the hundreds at most, and the window carries
    * only (id, lang, nll), never text (the [[Ranking.percentRankWithin]]
    * documented bound). */
  def ccnetPerplexityBuckets(df: DataFrame, idCol: String, textCol: String,
                             langCol: String,
                             lambda: Double = 0.7): DataFrame = {
    val scored = bigramNll(df, idCol, textCol, lambda)
      .join(df.select(col(idCol), col(langCol)), Seq(idCol))
      .select(col(idCol), col(langCol), col("nll"))
    val scoreable = scored.filter(col("nll").isNotNull)
    val ranked = Ranking.percentRankWithin(scoreable, Seq(langCol), "nll")
      .withColumn("bucket",
        when(col("pr") < 1.0 / 3.0, lit("head"))
          .when(col("pr") < 2.0 / 3.0, lit("middle"))
          .otherwise(lit("tail")))
      .drop("pr")
    ranked.unionByName(
      scored.filter(col("nll").isNull)
        .withColumn("bucket", lit("unscored")))
  }

  /** The normalized character stream trigram language-ID works over:
    * lowercased ASCII-letter runs joined by single spaces, so spacing
    * and punctuation noise never perturb the trigram inventory.
    *
    * The stream MUST be materialized as its own projection before the
    * `transform` slices it: referencing the normalize expression inside
    * the lambda would re-evaluate lower+split+join once PER POSITION —
    * O(len²) per document (measured 88 s → 2 s on the langid gate). */
  private def normStream(textCol: org.apache.spark.sql.Column) =
    array_join(filter(split(lower(textCol), "[^a-z]+"),
      t => t =!= ""), " ")

  private def trigramsOf(s: org.apache.spark.sql.Column) =
    graft.expressions.GraftExpressions.charNgrams(s, 3)

  /** Character-trigram language profiles (Cavnar & Trenkle 1994): for
    * each label, the `topM` most frequent trigrams of the normalized
    * character stream, ties broken by trigram ascending. Train on any
    * labeled corpus; feed to [[classifyByTrigramProfiles]]. Returns
    * (labelCol, gram string). Scale shape: trigram extraction is
    * map-side; counting is the word-count shuffle on (label, gram); the
    * per-label rank window runs over the trigram VOCABULARY (≤ ~27³ for
    * this alphabet), not the corpus. */
  def charTrigramProfiles(df: DataFrame, labelCol: String, textCol: String,
                          topM: Int = 200): DataFrame = {
    require(topM >= 1, s"topM must be >= 1, got $topM")
    import org.apache.spark.sql.expressions.Window
    // normalize + trigram-explode + partial count are map-side on the
    // scan: widen spreads a narrow input across cores (guide §2.5),
    // no-op when the scan is already parallel
    graft.util.SparkUtils.widen(
        df.select(col(labelCol), col(textCol).as("__raw")))
      .select(col(labelCol), normStream(col("__raw")).as("__s"))
      .select(col(labelCol), explode(trigramsOf(col("__s"))).as("gram"))
      .groupBy(col(labelCol), col("gram")).agg(count(lit(1)).as("__c"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(labelCol))
          .orderBy(col("__c").desc, col("gram"))))
      .filter(col("__rn") <= topM)
      .select(col(labelCol), col("gram"))
  }

  /** Classify documents against trigram language profiles: a document's
    * score for a label is the number of its trigram OCCURRENCES found in
    * that label's profile (the coverage simplification of Cavnar &
    * Trenkle's rank distance — integer, so argmax replays exactly);
    * predicted = argmax with label-ascending tiebreak, `und` for
    * documents with no trigrams or no profile overlap.
    *
    * Returns (idCol, predicted string, score long). Scale shape: the
    * profile frame (labels × topM rows) broadcasts against the map-side
    * exploded trigram stream; argmax is `min(struct(-score, label))` per
    * document — a map-combinable aggregate, no window over the corpus. */
  def classifyByTrigramProfiles(df: DataFrame, idCol: String,
                                textCol: String,
                                profiles: DataFrame,
                                labelCol: String = "lang"): DataFrame = {
    val grams = graft.util.SparkUtils.widen(
        df.select(col(idCol).as("__id"), col(textCol).as("__raw")))
      .select(col("__id"), normStream(col("__raw")).as("__s"))
      .select(col("__id"), explode(trigramsOf(col("__s"))).as("gram"))
    val prof = profiles.select(col(labelCol).as("__lbl"), col("gram"))
    val best = grams.join(broadcast(prof), Seq("gram"))
      .groupBy(col("__id"), col("__lbl")).agg(count(lit(1)).as("__score"))
      .groupBy(col("__id"))
      .agg(min(struct((-col("__score")).as("ns"), col("__lbl").as("l")))
        .as("__best"))
      .select(col("__id"), col("__best.l").as("predicted"),
        (-col("__best.ns")).as("score"))
    df.select(col(idCol).as("__id"))
      .join(best, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("predicted"), lit("und")).as("predicted"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** Word burstiness: variance-to-mean ratio (VMR) of a word's per-
    * document counts, zeros included (Church & Gale 1995's deviation
    * from Poisson). Function words sit near VMR ≈ 1 (Poisson-like:
    * everywhere, evenly); content and TEMPLATE words are "bursty" —
    * absent almost everywhere, piled up where they occur — so the top of
    * the VMR ranking surfaces boilerplate and topic spikes that raw
    * frequency hides.
    *
    * Exactness: with N docs, total count C and per-doc-count square sum
    * S2 — all integers — the statistic is the fixed double sequence
    * `mean = C/N; vmr = (S2/N − mean²)/mean`, then round(6); ranking is
    * (rounded vmr desc, word) so the top-k cut replays across engines.
    *
    * Returns the `topK` rows (word, n_docs long, count long,
    * vmr double) among words with `count >= minCount`. Scale shape: the
    * corpus collapses to per-(word, doc) counts (word-count shuffle),
    * then per-word integer sums; the cut is TakeOrderedAndProject. */
  def burstinessStats(df: DataFrame, idCol: String, textCol: String,
                      minCount: Long = 50, topK: Int = 30): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val nDocs = df.count()
    require(nDocs > 0, "burstinessStats needs a non-empty corpus")
    val perDoc = df.select(col(idCol).as("__id"),
        explode(filter(split(lower(col(textCol)), "[^a-z]+"),
          t => t =!= "")).as("__t"))
      .groupBy(col("__t"), col("__id")).agg(count(lit(1)).as("__c"))
    val mean = col("count").cast("double") / lit(nDocs.toDouble)
    val ex2 = col("__s2").cast("double") / lit(nDocs.toDouble)
    perDoc.groupBy(col("__t"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__c")).as("count"),
        sum(col("__c") * col("__c")).as("__s2"))
      .filter(col("count") >= minCount)
      .withColumn("vmr", round((ex2 - mean * mean) / mean, 6))
      .select(col("__t").as("word"), col("n_docs"), col("count"), col("vmr"))
      .orderBy(col("vmr").desc, col("word"))
      .limit(topK)
  }

  /** Blocklist hit statistics — the "fraction of taboo terms" signal the
    * Gopher / RefinedWeb / Dolma rule stacks threshold on (obscenity,
    * gambling, malware wordlists): per document, how many tokens hit a
    * data-driven blocklist and what fraction of the document that is.
    * The list is a DataFrame, not a hardcoded pattern, so wordlists ship
    * as data and the same operator serves NSFW filtering, brand-safety
    * audits, and keyword escalation.
    *
    * Returns one row per input document:
    * (idCol, n_toks long, n_hits long, hit_ratio double round(6)) —
    * token-less documents report (0, 0, 0.0); the ratio is an exact
    * integer rational before rounding, so thresholds replay across
    * engines.
    *
    * Scale shape: the blocklist rides a broadcast hash join against the
    * exploded token stream (wordlists are thousands of terms); the
    * corpus shuffles only (doc, counts) rows into the per-doc aggregate,
    * never tokens — the [[fastTextStyleScore]] plan with a membership
    * bit instead of a weight. */
  def blocklistHitStats(df: DataFrame, idCol: String, textCol: String,
                        terms: DataFrame,
                        termCol: String = "term"): DataFrame = {
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(filter(split(lower(col(textCol)), "[^a-z]+"),
          t => t =!= "")).as("__t"))
    val tset = terms.select(col(termCol).as("__t")).distinct()
      .withColumn("__hit", lit(1L))
    val agg = toks.join(broadcast(tset), Seq("__t"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
    df.select(col(idCol).as("__id"))
      .join(agg, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(round(col("n_hits").cast("double") / col("n_toks"), 6),
          lit(0.0)).as("hit_ratio"))
  }

  /** Per-source Zipf slope: least-squares fit of `ln(freq)` against
    * `ln(rank)` over each source's `topN` most frequent words — the
    * classic power-law diagnostic (Zipf's law: slope ≈ −1 for natural
    * language). A source whose slope is far from the corpus norm is
    * machine-generated, templated, or mis-extracted text; tracking the
    * slope per crawl snapshot catches those regressions cheaply.
    *
    * Cross-engine exactness: each point's (ln rank, ln freq) is rounded
    * to 6 dp and cast to DECIMAL(18,6), so every Σx/Σy/Σxy/Σxx is an
    * EXACT decimal sum — identical in any accumulation order and in any
    * engine (float sums are order-dependent; decimal sums are not). The
    * closed-form slope/intercept is then a fixed sequence of double ops
    * on those sums, rounded to 6 dp.
    *
    * Returns (sourceCol, n_words long, slope double, intercept double);
    * sources with a degenerate fit (n < 2) yield NULLs. Scale shape:
    * corpus → per-(source, word) counts (the word-count shuffle), one
    * per-source window over the VOCABULARY (not the corpus; the
    * [[Ranking.percentRankWithin]] documented bound), then one
    * map-combinable aggregate per source. */
  def zipfSlopeBySource(df: DataFrame, sourceCol: String, textCol: String,
                        topN: Int = 1000): DataFrame = {
    require(topN >= 2, s"need topN >= 2 points to fit, got $topN")
    import org.apache.spark.sql.expressions.Window
    val wc = df.select(col(sourceCol),
        explode(filter(split(lower(col(textCol)), "[^a-z]+"),
          t => t =!= "")).as("__t"))
      .groupBy(col(sourceCol), col("__t")).agg(count(lit(1)).as("__c"))
    val ranked = wc.withColumn("__r", row_number().over(
        Window.partitionBy(col(sourceCol))
          .orderBy(col("__c").desc, col("__t"))))
      .filter(col("__r") <= topN)
    val pts = ranked.select(col(sourceCol),
      round(log(col("__r").cast("double")), 6).cast("decimal(18,6)").as("__x"),
      round(log(col("__c").cast("double")), 6).cast("decimal(18,6)").as("__y"))
    val agg = pts.groupBy(col(sourceCol))
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(col("__x")).cast("double").as("__sx"),
        sum(col("__y")).cast("double").as("__sy"),
        sum(col("__x") * col("__y")).cast("double").as("__sxy"),
        sum(col("__x") * col("__x")).cast("double").as("__sxx"))
    val den = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val slope = (col("__n") * col("__sxy") - col("__sx") * col("__sy")) / den
    agg.select(col(sourceCol), col("__n").cast("long").as("n_words"),
      when(den =!= 0.0, round(slope, 6)).as("slope"),
      when(den =!= 0.0,
        round((col("__sy") - slope * col("__sx")) / col("__n"), 6))
        .as("intercept"))
  }

  def fastTextStyleScore(df: DataFrame, idCol: String, textCol: String,
                         vocab: DataFrame, bias: Double = 0.0,
                         scale: Double = 1.0): DataFrame = {
    // tokenize + broadcast-join + partial agg are all map-side: on a
    // narrow scan they serialize into one task (guide §2.5) — widen
    // spreads the docs first, no-op when the input is already parallel
    val toks = graft.util.SparkUtils.widen(df.filter(col(textCol).isNotNull)
        .select(col(idCol).as("__id"), col(textCol).as("__txt")))
      .select(col("__id"),
        explode(filter(split(lower(col("__txt")), "[^a-z]+"),
          t => t =!= "")).as("__t"))
    val v = vocab.select(col("word").as("__t"), col("weight").as("__w"))
    val scored = toks.join(broadcast(v), Seq("__t"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(coalesce(col("__w"), lit(0.0))).as("__sw"))
      .withColumn("score",
        lit(1.0) / (lit(1.0) +
          exp(-(lit(bias) +
            col("__sw") / (col("n_toks") * lit(scale))))))
    df.select(col(idCol).as("__id"))
      .join(scored, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("score"),
          lit(1.0 / (1.0 + math.exp(-bias)))).as("score"))
  }

  /** Shannon + Simpson diversity of a categorical column per group —
    * ecology's standard pair applied to corpus health: "how diverse is
    * each source's language mix" (or domain mix, topic mix). Shannon
    * `H = −Σ p ln p` weighs rare categories; Simpson `1 − Σ p²` is the
    * probability two random docs differ — a collapsed source (one lang
    * taking over) drops both long before a hard filter would notice.
    *
    * Cross-engine exactness: Simpson is the exact integer identity
    * `(C² − Σc²)/C²` — products through DECIMAL(38,0), ONE double
    * division; Shannon's per-category terms `−(c/C)·ln(c/C)` are each
    * one short double sequence, rounded to 6 dp and summed as
    * DECIMAL(28,6) (order-free).
    *
    * Returns (group, n long, n_cats long, shannon double, simpson
    * double), group ascending. NULL categories excluded; NULL groups
    * form their own group. One map-combinable groupBy; output bounded
    * by |groups|. */
  def diversityIndices(df: DataFrame, groupCol: String,
                       catCol: String): DataFrame = {
    val cells = df.filter(col(catCol).isNotNull)
      .groupBy(col(groupCol), col(catCol).cast("string").as("__c"))
      .agg(count(lit(1)).as("__n"))
    val withTot = cells
      .join(cells.groupBy(col(groupCol)).agg(sum(col("__n")).as("__t")),
        Seq(groupCol))
    val p = col("__n").cast("double") / col("__t").cast("double")
    def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    withTot
      .select(col(groupCol), col("__n"), col("__t"),
        (round(-(p * log(p)), 6) + lit(0.0)).as("__h"),
        (d(col("__n")) * col("__n")).as("__sq"))
      .groupBy(col(groupCol), col("__t"))
      .agg(count(lit(1)).as("n_cats"),
        sum(col("__h").cast("decimal(28,6)")).cast("double").as("shannon"),
        sum(col("__sq")).as("__ssq"))
      .select(col(groupCol), col("__t").as("n"), col("n_cats"),
        col("shannon"),
        (round((d(col("__t")) * col("__t") - col("__ssq")).cast("double") /
          (d(col("__t")) * col("__t")).cast("double"), 6) + lit(0.0))
          .as("simpson"))
      .orderBy(col(groupCol))
  }

  /** Per-document n-gram novelty in corpus id order — the freshness
    * curve ("how much of this page is phrasing the corpus has already
    * seen?"): a gram is NOVEL in the document with the smallest id
    * containing it; each document reports the novel fraction of its
    * DISTINCT n-grams. Dedup and decontamination catch whole-document
    * and span copies; this is the aggregate trend — scrape drift toward
    * boilerplate shows up as a falling novelty curve long before any
    * single pair crosses a dedup threshold.
    *
    * Cross-engine exactness: counts of distinct grams and min-id
    * attribution are exact integers; novelty is ONE double division,
    * round(6). Returns (id, n_grams long — distinct n-grams, n_novel
    * long, novelty double), documents with < n tokens omitted (no
    * denominator). NULL text excluded.
    *
    * Scale shape: (doc, gram) distinct → min(id) per gram (both
    * map-combinable) → one hash join back on the gram — everything
    * key-partitioned; only 16-byte gram hashes would shuffle if the
    * caller pre-hashes, and the join degenerates gracefully under AQE
    * skew handling for stop-gram keys. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        filter(split(lower(col(textCol)), "[^a-z]+"),
          t => t =!= "").as("__a"))
      .filter(size(col("__a")) >= n)
    val grams =
      if (n == 1) toks.select(col("__id"), explode(col("__a")).as("__g"))
      else toks.select(col("__id"), explode(expr(
        s"""transform(sequence(1, size(__a) - ${n - 1}),
           |  i -> array_join(slice(__a, i, $n), ' '))""".stripMargin))
        .as("__g"))
    val docGram = grams.distinct()
    val firstSeen = docGram.groupBy(col("__g"))
      .agg(min(col("__id")).as("__first"))
    docGram.join(firstSeen, Seq("__g"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col("__id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("__id").as(idCol), col("n_grams"), col("n_novel"),
        (round(col("n_novel").cast("double") /
          col("n_grams").cast("double"), 6) + lit(0.0)).as("novelty"))
      .orderBy(col(idCol))
  }

  /** Heaps'-law fit V(N) ≈ K·N^β — the vocabulary-growth curve, the
    * planning number behind tokenizer sizing and dedup-rate forecasts
    * (β near 1 means the corpus keeps minting new words — OCR noise or
    * boilerplate IDs; healthy natural text sits around 0.4–0.8; a β
    * collapse means new ingests are re-treading old vocabulary). One
    * (log N, log V) point per document in id order, least-squares slope
    * through the same decimal-exact regression sums as the Zipf fit.
    * Returns one row: (n_points, beta round(6), log_k round(6)).
    *
    * Scale shape: cumulative token and vocabulary counts come from
    * [[Ranking.globalRunningSum]] (range-sort + per-partition offsets —
    * no single-partition window); "new vocabulary per doc" is the
    * min-id first-occurrence attribution shared with [[ngramNovelty]].
    * The regression consumes exact DECIMAL(18,6) sums of rounded log
    * points — order-free, bit-identical in any engine. */
  def heapsLawFit(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("__id"),
      explode(filter(split(lower(col(textCol)), "[^a-z]+"),
        t => t =!= "")).as("__t"))
    val perDoc = toks.groupBy(col("__id")).agg(count(lit(1)).as("__nt"))
    val newPerDoc = toks.groupBy(col("__t")).agg(min(col("__id")).as("__id"))
      .groupBy(col("__id")).agg(count(lit(1)).as("__nv"))
    val base = df.select(col(idCol).as("__id"))
      .join(perDoc, Seq("__id"), "left")
      .join(newPerDoc, Seq("__id"), "left")
      .select(col("__id"), coalesce(col("__nt"), lit(0L)).as("__nt"),
        coalesce(col("__nv"), lit(0L)).as("__nv"))
    val cum = Ranking.globalRunningSum(
      Ranking.globalRunningSum(base, Seq(col("__id")), "__nt", "__ct"),
      Seq(col("__id")), "__nv", "__cv")
    val pts = cum.filter(col("__ct") > 0L && col("__cv") > 0L)
      .select(
        round(log(col("__ct").cast("double")), 6)
          .cast("decimal(18,6)").as("__x"),
        round(log(col("__cv").cast("double")), 6)
          .cast("decimal(18,6)").as("__y"))
    val agg = pts.agg(count(lit(1)).cast("double").as("__n"),
      sum(col("__x")).cast("double").as("__sx"),
      sum(col("__y")).cast("double").as("__sy"),
      sum(col("__x") * col("__y")).cast("double").as("__sxy"),
      sum(col("__x") * col("__x")).cast("double").as("__sxx"))
    val den = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val slope = (col("__n") * col("__sxy") - col("__sx") * col("__sy")) / den
    agg.select(col("__n").cast("long").as("n_points"),
      when(den =!= 0.0, round(slope, 6) + lit(0.0)).as("beta"),
      when(den =!= 0.0,
        round((col("__sy") - slope * col("__sx")) / col("__n"), 6)
          + lit(0.0)).as("log_k"))
  }

  /** Class-based TF-IDF (c-TF-IDF — Grootendorst 2022, BERTopic §2.3):
    * treat each SOURCE as one concatenated pseudo-document and score
    * `(c_sw/T_s)·ln(1 + S/df(w))` — the words that make a source what
    * it is, rather than the words it merely contains. The labeling
    * step behind topic/cluster naming and per-domain corpus cards;
    * [[burrowsDelta]] asks "who writes alike", this asks "what is each
    * one about".
    *
    * Numeric device: counts are exact integers; the score is one
    * double sequence `(c/T)·ln(1 + S/df)` floored ONCE to micro units,
    * and the per-source top-k cut orders on the floored INTEGER with a
    * word tiebreak — total-ordered, replayable. Words below `minCount`
    * per source drop (hapax noise).
    *
    * Scale shape: two word-count aggregates (term counts, document
    * frequencies over sources), a 1-row source-count broadcast, one
    * keyed window for the cut. */
  def cTfIdfTerms(df: DataFrame, sourceCol: String, textCol: String,
                  topK: Int = 5, minCount: Long = 2L): DataFrame = {
    require(topK >= 1 && topK <= 1000, s"topK must be in [1,1000], got $topK")
    val toks = df.filter(col(sourceCol).isNotNull && col(textCol).isNotNull)
      .select(col(sourceCol).as("__s"),
        explode(filter(split(lower(col(textCol)), "[^a-z]+"),
          t => t =!= "")).as("__w"))
    val tf = toks.groupBy(col("__s"), col("__w"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
    val tot = toks.groupBy(col("__s")).agg(count(lit(1)).as("__t"))
    val dfreq = toks.select(col("__s"), col("__w")).distinct()
      .groupBy(col("__w")).agg(count(lit(1)).as("__df"))
    val nSrc = toks.select(col("__s")).distinct()
      .agg(count(lit(1)).as("__ns"))
    val scored = tf
      .join(tot, Seq("__s"))
      .join(dfreq, Seq("__w"))
      .crossJoin(broadcast(nSrc))
      .select(col("__s"), col("__w"), col("__c"),
        floor((col("__c").cast("double") / col("__t").cast("double")) *
          log(lit(1.0) + col("__ns").cast("double") /
            col("__df").cast("double")) * lit(1e6))
          .cast("long").as("score_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__s"))
      .orderBy(col("score_micro").desc, col("__w"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("__s").as("source"), col("rank"), col("__w").as("word"),
        col("__c").as("n"), col("score_micro"))
      .orderBy(col("source"), col("rank"))
  }

  /** Burrows' Delta stylometric distance between sources (Burrows,
    * LLC 2002 "'Delta': a measure of stylistic difference"; Evert et
    * al. 2017 for the standardization analysis): z-score each source's
    * relative frequency of the corpus' top function words (across
    * sources, per word), then `Δ(a,b) = mean_w |z_aw − z_bw|`. THE
    * authorship/style-profiling number — on a training corpus it
    * answers "which sources write alike" (template families, mirrored
    * sites, machine-generated clusters) where token-overlap measures
    * ([[unigramJsDivergence]]) see only vocabulary, not USAGE RATE of
    * the shared words.
    *
    * Numeric device: counts and totals are exact integers; relative
    * frequencies, the per-word mean/stddev_samp across sources, z and
    * the final mean run as doubles with ONE round(4) at the end — the
    * [[graft.operators.Drift]] z-family's established cross-engine
    * contract (sums span ≤ |sources| terms). Missing (source, word)
    * cells COUNT AS ZERO (the grid completes before standardization —
    * a source that never uses "the" is stylometric signal, not a null);
    * words with zero variance across sources drop.
    *
    * Scale shape: one token count, a (count desc, word) top-`topWords`
    * cut, then everything runs on the |sources|×topWords grid — the
    * corpus is touched once. */
  def burrowsDelta(df: DataFrame, sourceCol: String, textCol: String,
                   topWords: Int = 30): DataFrame = {
    require(topWords >= 2 && topWords <= 1000,
      s"topWords must be in [2,1000], got $topWords")
    val toks = df.filter(col(sourceCol).isNotNull && col(textCol).isNotNull)
      .select(col(sourceCol).as("__s"),
        explode(filter(split(lower(col(textCol)), "[^a-z]+"),
          t => t =!= "")).as("__w"))
    val top = toks.groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w")).limit(topWords)
      .select(col("__w"))
    val perSrc = toks.groupBy(col("__s")).agg(count(lit(1)).as("__t"))
    val cell = toks.join(top, Seq("__w"))
      .groupBy(col("__s"), col("__w")).agg(count(lit(1)).as("__c"))
    val grid = perSrc.crossJoin(broadcast(top))
      .join(cell, Seq("__s", "__w"), "left")
      .select(col("__s"), col("__w"),
        (coalesce(col("__c"), lit(0L)).cast("double") /
          col("__t").cast("double")).as("__f"))
    val stats = grid.groupBy(col("__w"))
      .agg(avg(col("__f")).as("__mu"), stddev_samp(col("__f")).as("__sd"))
      .filter(col("__sd") > 0.0)
    val z = grid.join(stats, Seq("__w"))
      .select(col("__s"), col("__w"),
        ((col("__f") - col("__mu")) / col("__sd")).as("__z"))
    z.select(col("__s").as("source_a"), col("__w"), col("__z").as("__za"))
      .join(z.select(col("__s").as("source_b"), col("__w"),
        col("__z").as("__zb")), Seq("__w"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_words"),
        (round(avg(abs(col("__za") - col("__zb"))), 4) + lit(0.0))
          .as("delta"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Good–Turing frequency-of-frequencies profile (Good, Biometrika
    * 1953; Gale & Sampson 1995 "Good-Turing frequency estimation
    * without tears"): `N_r` = how many distinct values occur exactly r
    * times, the observed mass share `r·N_r/N`, and Turing's adjusted
    * count `r* = (r+1)·N_{r+1}/N_r`. The r = 1 share IS the estimated
    * UNSEEN mass `P₀ = N₁/N` — the "how much of this distribution have
    * we not sampled yet" number that sizes vocabulary coverage,
    * dedup-false-negative forecasts, and whether another crawl epoch is
    * worth the money ([[heapsLawFit]]'s cousin: Heaps extrapolates
    * vocabulary GROWTH, GT prices the probability mass still missing).
    *
    * Exactness: every column is integer counts plus one micro floor per
    * ratio. Rows are emitted only for r ≤ maxR with N_r > 0;
    * `rstar_micro` is 0 when N_{r+1} = 0 (the raw GT estimator is
    * undefined there — Gale-Sampson smooth over log N_r instead; at
    * corpus scale the low-r rows this operator bounds to are dense).
    *
    * Scale shape: two map-combinable aggregates (value counts →
    * count-of-counts) + a 1-row total broadcast + a keyed self-join on
    * r+1 over a ≤ maxR-row frame. */
  def goodTuringProfile(df: DataFrame, valCol: String,
                        maxR: Int = 10): DataFrame = {
    require(maxR >= 1 && maxR <= 1000, s"maxR must be in [1,1000], got $maxR")
    val freq = df.filter(col(valCol).isNotNull)
      .groupBy(col(valCol).as("__v"))
      .agg(count(lit(1)).as("__f"))
    val nr = freq.groupBy(col("__f").as("r"))
      .agg(count(lit(1)).as("n_r"))
    val total = freq.agg(sum(col("__f")).as("__n"))
    def fdiv(a: Column, b: Column) =
      ((a - pmod(a, b)) / b).cast("long")
    nr.filter(col("r") <= maxR)
      .join(nr.select((col("r") - 1).as("r"), col("n_r").as("__n_r1")),
        Seq("r"), "left")
      .crossJoin(broadcast(total))
      .select(col("r"), col("n_r"),
        fdiv(lit(1000000L) * col("r") * col("n_r"), col("__n"))
          .as("share_micro"),
        coalesce(
          fdiv(lit(1000000L) * (col("r") + 1) * col("__n_r1"),
            col("n_r")),
          lit(0L)).as("rstar_micro"))
      .orderBy(col("r"))
  }
}
