package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for LLM training-data pipelines
  * (SURVEY.md §2). Everything is per-row and codegen'd — no UDFs, no
  * shuffles except the final frequency aggregations — so these scale
  * linearly with the corpus and stay inside whole-stage codegen.
  */
object Text {

  /** The module's hub memo (see [[SessionMemo]]). */
  private val memo = new SessionMemo[AnyRef]

  private[graft] val stopwords = Seq("the", "a", "of", "and", "to", "in")

  private[ops] def tokens: Column = split(trim(col("text")), " ")

  /** tx01: tokenization + basic counting. */
  def tx01TokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(tokens).as("n_tokens"),
      size(array_distinct(tokens)).as("n_distinct"),
      length(col("text")).as("n_text_chars"))

  /** tx02: quality scoring from cheap lexical signals (stopword ratio,
    * punctuation density, token-count band). */
  def tx02QualityScore(s: SparkSession, d: String): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    Tables.documents(s, d)
      .withColumn("tk", tokens)
      .withColumn("n_tokens", size(col("tk")))
      .withColumn("stop_cnt",
        size(filter(col("tk"), t => array_contains(stopArr, t))))
      .withColumn("punct_cnt",
        length(regexp_replace(col("text"), "[a-z0-9 ]", "")))
      .withColumn("avg_token_len",
        round(length(regexp_replace(trim(col("text")), " ", "")) * 1.0 / col("n_tokens"), 4))
      .withColumn("score",
        round(col("stop_cnt") * 0.5 / col("n_tokens") +
          when(col("n_tokens").between(5, 200), 0.5).otherwise(0.0), 4))
      .select(col("doc_id"), col("n_tokens"), col("stop_cnt"),
        col("punct_cnt"), col("avg_token_len"), col("score"))
  }

  /** tx03: language-ID heuristic (stopword evidence) scored against the
    * labeled `lang` column. */
  def tx03Langid(s: SparkSession, d: String): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    Tables.documents(s, d)
      .withColumn("stop_cnt",
        size(filter(tokens, t => array_contains(stopArr, t))))
      .withColumn("pred_lang",
        when(col("stop_cnt") >= 2, "en").otherwise("unk"))
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        (col("pred_lang") === col("lang")).as("is_match"))
  }

  /** tx04: order-invariant document fingerprint — md5 over the sorted
    * distinct token set; identical fingerprints ⇒ same bag of words. */
  def tx04Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(concat_ws(" ", array_sort(array_distinct(tokens)))).as("fingerprint"))

  /** tx06: BPE-style token counting — word pieces and punctuation as
    * separate tokens via a regex tokenizer (the pre-tokenization step
    * every BPE/WordPiece pipeline runs), plus a chars-per-token ratio
    * as a cheap compression proxy. */
  def tx06TokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("bpe_tokens", expr("regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)"))
      .select(
        col("doc_id"),
        size(col("bpe_tokens")).as("n_bpe_tokens"),
        round(length(col("text")) * 1.0 / size(col("bpe_tokens")), 4)
          .as("chars_per_token"))

  /** tx07: deterministic hash-based sampling — reproducible across
    * engines, runs, and partitionings (unlike rng-based sample()),
    * which is what a training-data pipeline needs for holdout splits:
    * ~1/8 of documents whose md5(doc_id) starts with 0 or 1. */
  def tx07HashSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1"))
      .select(col("doc_id"), col("source"), col("lang"))

  /** tx08: TF-IDF — term frequency × ln(N/df), top-3 terms per doc.
    * One explode + two aggregations; df join is broadcast (vocab ≪
    * corpus). Scores are rounded to 6 decimals BEFORE ranking so that
    * last-ulp ln() differences between engines cannot reorder
    * mathematically-tied terms (e.g. 2·ln2 vs 1·ln4). */
  def tx08Tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val terms = docs.select(col("doc_id"), explode(tokens).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(broadcast(df), Seq("term"))
      .join(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs") * 1.0 / col("df")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tfidf"))
  }

  /** tx09: canonical text normalization — lowercase, strip
    * non-alphanumerics, collapse runs of whitespace; emits the
    * normalized text's hash so downstream exact-dedup runs on the
    * canonical form. */
  def tx09Normalize(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("norm",
        trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          " +", " ")))
      .select(col("doc_id"), length(col("norm")).as("norm_len"),
        md5(col("norm")).as("norm_hash"))

  /** tx10: order-SENSITIVE document fingerprint — a chained (rolling)
    * hash folded left-to-right over the token stream, complementing
    * tx04's order-invariant set hash: reordered tokens change tx10 but
    * not tx04. One pass, no shuffle. */
  def tx10RollingHash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("tk", tokens)
      .select(col("doc_id"), expr(
        "aggregate(slice(tk, 2, size(tk) - 1), element_at(tk, 1), (acc, t) -> md5(concat(acc, t)))")
        .as("rolling_hash"))

  /** tx11: stopword filtering — the corpus-cleaning transform: drop
    * stopword tokens, re-join, and fingerprint the filtered text so the
    * (large) cleaned column itself never needs to be compared. */
  def tx11StopwordFilter(s: SparkSession, d: String): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    Tables.documents(s, d)
      .withColumn("tk", tokens)
      .withColumn("kept", filter(col("tk"), t => !array_contains(stopArr, t)))
      .select(col("doc_id"),
        (size(col("tk")) - size(col("kept"))).as("n_removed"),
        md5(concat_ws(" ", col("kept"))).as("filtered_hash"))
  }

  /** tx05: corpus-level bigram frequency, top-20. */
  def tx05BigramFreq(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("tk", tokens)
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk)-1), i -> concat(element_at(tk, i), ' ', element_at(tk, i+1)))"))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(20)

  /** tx21: bigram language-model table — for every token appearing
    * ≥10 times as a bigram head, its maximum-likelihood successor and
    * the conditional probability in exact ppm. The argmax is a
    * `min_by` over the (−count, successor) struct — deterministic,
    * partial-aggregable, and free of any per-head window sort; both
    * count layers partial-aggregate map-side. The n-gram LM build
    * step of a data-quality / perplexity-scoring pipeline. */
  def tx21BigramLm(s: SparkSession, d: String): DataFrame = {
    val bi = Tables.documents(s, d)
      .withColumn("tk", tokens)
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk)-1), i -> struct(element_at(tk, i) AS w1, element_at(tk, i+1) AS w2))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
    bi.groupBy(col("w1"))
      .agg(sum(col("cnt")).as("total"),
        min_by(struct(col("w2"), col("cnt")),
          struct(negate(col("cnt")), col("w2"))).as("top"))
      .filter(col("total") >= 10)
      .select(col("w1"), col("top.w2").as("top_w2"),
        col("top.cnt").as("top_cnt"),
        expr("top.cnt * 1000000 div total").as("prob_ppm"))
  }

  /** tx22: Zipf head — the top-30 corpus tokens with their frequency
    * rank, the sanity plot every corpus audit starts with. Counts
    * partial-aggregate; the global top-30 rides TakeOrdered (k rows
    * per task), and the rank window runs over the 30 SURVIVORS only —
    * a constant-size frame, never the vocabulary. */
  def tx22ZipfHead(s: SparkSession, d: String): DataFrame = {
    val top = Tables.documents(s, d)
      .select(explode(tokens).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(30)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("token"))))
      .select(col("rank"), col("token"), col("cnt"))
  }

  /** tx23: intra-document repetition score — the fraction of a doc's
    * trigrams that are repeats of an earlier trigram in the SAME doc,
    * in exact ppm. The within-doc twin of the cross-doc dedup family:
    * high repetition flags boilerplate/spam/generation loops (the
    * classic repetition filter in LLM corpus curation). Pure per-row
    * array arithmetic — zero shuffles. */
  def tx23RepetitionScore(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("tk", tokens)
      .filter(size(col("tk")) >= 3)
      .withColumn("tg", expr(
        """transform(sequence(1, size(tk)-2),
          |  i -> concat(element_at(tk,i), ' ', element_at(tk,i+1), ' ', element_at(tk,i+2)))"""
          .stripMargin))
      .select(col("doc_id"),
        size(col("tg")).as("n_trigrams"),
        size(array_distinct(col("tg"))).as("n_distinct"))
      .withColumn("repetition_ppm", expr(
        "CAST(n_trigrams - n_distinct AS BIGINT) * 1000000 div n_trigrams"))

  /** tx24: language-ID confusion matrix — labeled `lang` vs tx03's
    * prediction, as (lang, pred_lang, n_docs) cells: the calibration
    * audit that decides whether the cheap n-gram classifier is good
    * enough to route corpus shards. One partial-agg'd groupBy over
    * tx03's per-row projection. */
  def tx24LangConfusion(s: SparkSession, d: String): DataFrame =
    tx03Langid(s, d)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** tx25: per-source corpus-quality dashboard — for every `source`
    * shard: doc count, token mass, mean doc length (exact integer
    * div), and the share of docs passing the tx02 quality floor in
    * exact bp. The governance view that decides which sources feed
    * the next training mix. One groupBy over per-row projections. */
  def tx25SourceQuality(s: SparkSession, d: String): DataFrame =
    tx02QualityScore(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("bigint")).as("total_tokens"),
        expr("CAST(sum(CAST(n_tokens AS BIGINT)) div count(1) AS BIGINT)")
          .as("mean_tokens"),
        expr("CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) * 10000 " +
          "div count(1) AS BIGINT)").as("pass_bp"))

  /** tx26: cross-document n-gram NOVELTY — the share of a doc's
    * distinct trigrams that appear in no other document, in exact ppm:
    * the inverse of the dedup signals (dd12 flags what repeats; this
    * scores what is new), used to up-weight novel content in a
    * training mix. Shingle doc-frequency is one partial-agg'd
    * groupBy; the (tiny, ∝ shared trigrams) non-unique set joins back
    * onto the per-doc shingle stream. */
  def tx26Novelty(s: SparkSession, d: String): DataFrame = {
    val sh = Dedup.shingles(s, d)
    val shared = sh.groupBy(col("s"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > 1)
      .select(col("s"), lit(1).as("is_shared"))
    sh.join(shared, Seq("s"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        (count(lit(1)) - count(col("is_shared"))).as("n_unique"))
      .withColumn("novelty_ppm", expr("n_unique * 1000000 div n_trigrams"))
  }

  /** tx12: PII redaction — the scrub-before-training transform. A
    * deterministic synthetic "profile" string (the raw corpus carries
    * no PII) gets email + number-run redaction via chained
    * regexp_replace; per-row counts make the removed mass auditable.
    * Pure per-row codegen'd regex work — no shuffle at all. */
  def tx12PiiRedact(s: SparkSession, d: String): DataFrame = {
    val emailRe = "[A-Za-z0-9.]+@[A-Za-z0-9.]+"
    val profile = when(col("doc_id") % 3 === 0,
        concat(lit("ref "), (col("doc_id") * 7919).cast("string"), lit(" "),
          substring(trim(col("text")), 1, 30)))
      .otherwise(
        concat(element_at(tokens, 1), lit("@"), col("source"), lit(".example.com ref "),
          (col("doc_id") * 7919).cast("string"), lit(" "),
          substring(trim(col("text")), 1, 30)))
    Tables.documents(s, d)
      .withColumn("profile", profile)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("profile"), lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("profile"), lit("[0-9]+"), lit(0))).as("n_numbers"),
        md5(regexp_replace(regexp_replace(col("profile"), emailRe, "<EMAIL>"),
          "[0-9]+", "<NUM>")).as("redacted_hash"))
  }

  /** tx13: order-preserving within-document token dedup — repeated
    * tokens collapse to their FIRST occurrence (repetition removal for
    * training text). posexplode → min(pos) per token → re-assembled by
    * an explicit array_sort on (pos, token): order is deterministic,
    * never collection order. */
  def tx13WordDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens).as(Seq("pos", "tok")))
      .groupBy(col("doc_id"), col("tok"))
      .agg(min(col("pos")).as("mp"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_unique"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("mp"), col("tok")))),
            x => x.getField("tok")), " ")).as("dedup_hash"))

  /** tx14: character-trigram frequency table, top-20 — the char-level
    * n-gram feature base of language-ID / script detection. */
  def tx14CharNgrams(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("text"))
      .filter(length(col("text")) >= 3)
      // CPU-dense, byte-small (every char becomes a trigram row but
      // the corpus is one parquet split): widen before the explode or
      // the whole n-gram pass runs in ONE task — the dd15/mm10 rule;
      // width from cores, not input bytes, and the partial agg below
      // still collapses map-side (r13; wall ≈ cpu before the widen).
      .repartition(s.sparkContext.defaultParallelism * 2)
      .select(explode(expr(
        "transform(sequence(1, length(text)-2), i -> substring(text, i, 3))"))
        .as("trigram"))
      .groupBy(col("trigram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("trigram"))
      .limit(20)

  /** tx16: length-band quality filter — keep documents whose token
    * count sits inside the corpus [p05, p95] band (outlier-length docs
    * are noise for training). The two exact percentiles are one scalar
    * aggregate broadcast back over the stream — the same
    * scalar-subquery shape as q14. */
  def tx16LengthBand(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), size(tokens).as("n_tokens"))
    val bounds = docs.agg(
      expr("percentile(n_tokens, 0.05)").as("p05"),
      expr("percentile(n_tokens, 0.95)").as("p95"))
    docs.crossJoin(broadcast(bounds))
      .filter(col("n_tokens") >= col("p05") && col("n_tokens") <= col("p95"))
      .select(col("doc_id"), col("n_tokens"))
  }

  /** tx20: type-token ratio — lexical diversity per document in exact
    * basis points (distinct tokens / total tokens); low TTR flags
    * repetitive, low-information text for the quality floor. */
  def tx20TypeTokenRatio(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(tokens).as("n_tokens"),
      size(array_distinct(tokens)).as("n_types"))
      .withColumn("ttr_bp",
        expr("CAST(n_types AS BIGINT) * 10000 div n_tokens"))

  /** tx19: dedup-impact summary — the one-row corpus report a dedup
    * run publishes: total docs, docs caught in near-dup clusters, docs
    * that would be dropped (non-keepers), and the reduction in exact
    * basis points. All integers off already-verified operators. */
  def tx19DedupImpact(s: SparkSession, d: String): DataFrame = {
    // run the iterative clustering ONCE (the pp01 pattern) and derive
    // both the clustered count and the keeper audit from that frame —
    // re-invoking dd07 here would re-run the whole minhash+propagation
    // chain a second time
    val clusters = Dedup.dd06DupClusters(s, d)
    val total = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val clustered = clusters.agg(count(lit(1)).as("n_clustered"))
    val dropped = Dedup.keepBestFrom(clusters,
        Text.tx02QualityScore(s, d).select(col("doc_id"), col("score")))
      .agg(coalesce(sum(col("n_members") - 1), lit(0L)).as("n_dropped"))
    total.crossJoin(clustered).crossJoin(dropped)
      .withColumn("reduction_bp", expr("n_dropped * 10000 div n_docs"))
  }

  /** tx18: character-class profile — alpha / digit / whitespace /
    * punctuation counts per document (the script/format signal feeding
    * corpus routing and garbage detection). Pure per-row regex
    * arithmetic, integer-exact. */
  def tx18CharClasses(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[A-Za-z]", ""))).as("n_alpha"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[0-9]", ""))).as("n_digit"),
      (length(col("text")) -
        length(regexp_replace(col("text"), " ", ""))).as("n_space"))

  /** tx17: rare-bigram counting — how much of a document is built from
    * corpus-rare bigrams (freq < 3), a cheap fluency/quality signal
    * (model-free stand-in for LM perplexity, and exact-integer so it
    * verifies everywhere). Bigram table aggregates once; the rare set
    * joins back onto the per-doc bigram stream. */
  def tx17RareBigrams(s: SparkSession, d: String): DataFrame = {
    val docBigrams = Tables.documents(s, d)
      .withColumn("tk", tokens)
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk)-1), i -> concat(element_at(tk, i), ' ', element_at(tk, i+1)))"))
        .as("bigram"))
    val rare = docBigrams.groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") < 3)
      .select(col("bigram"), lit(1).as("is_rare"))
    docBigrams.join(rare, Seq("bigram"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), count(col("is_rare")).as("n_rare"))
      .withColumn("rare_bp", expr("n_rare * 10000 div n_bigrams"))
  }

  /** tx15: vocabulary coverage — fraction of each document's tokens in
    * the corpus top-50 vocabulary, in integer basis points (exact long
    * arithmetic end-to-end). The two-level shape is the scalable one:
    * the vocab aggregate shrinks the corpus to 50 rows that broadcast
    * back onto the exploded token stream. */
  def tx15VocabCoverage(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(50)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), count(col("in_vocab")).as("n_in_vocab"))
      .withColumn("coverage_bp", expr("n_in_vocab * 10000 div n_tokens"))
  }

  /** tx27: Gopher-style rule-based quality filter — the published
    * composite heuristics (length band, mean-word-length band,
    * stopword floor, repetition ceiling) as independent per-rule
    * flags plus the combined keep bit, so downstream mixes can both
    * filter and audit WHICH rule fired. Every signal is computed on
    * an exact integer grid (×100 mean word length, ppm uniqueness),
    * per-row and codegen'd — zero shuffles, linear at any corpus
    * size. */
  def tx27GopherRules(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("tk", tokens)
      .withColumn("n_tokens", size(col("tk")))
      // mean word length ×100: total non-space chars over token count
      .withColumn("mwl_c",
        expr("(length(trim(text)) - (n_tokens - 1)) * 100 div n_tokens"))
      .withColumn("uniq_ppm",
        expr("CAST(size(array_distinct(tk)) AS BIGINT) * 1000000 div n_tokens"))
      .withColumn("stop_cnt",
        expr("size(filter(tk, t -> t in ('the','a','of','and','to','in')))"))
      .withColumn("r_short", when(col("n_tokens") < 20, 1).otherwise(0))
      .withColumn("r_mwl",
        when(col("mwl_c") < 250 || col("mwl_c") > 800, 1).otherwise(0))
      .withColumn("r_stop", when(col("stop_cnt") < 2, 1).otherwise(0))
      .withColumn("r_rep", when(col("uniq_ppm") < 350000, 1).otherwise(0))
      .withColumn("keep",
        when(col("r_short") + col("r_mwl") + col("r_stop") + col("r_rep") === 0,
          1).otherwise(0))
      .select(col("doc_id"), col("n_tokens"), col("mwl_c"), col("uniq_ppm"),
        col("stop_cnt"), col("r_short"), col("r_mwl"), col("r_stop"),
        col("r_rep"), col("keep"))

  /** tx28: vocabulary-growth (Heaps-law) audit per source — token
    * mass, distinct vocabulary, hapax count (types seen once), and
    * type-token ratio in exact bp. The per-(source, token) aggregate
    * shrinks the exploded stream map-side before anything shuffles;
    * sources whose hapax share collapses are the ones whose crawler
    * is re-fetching the same pages (vocabulary stops growing — the
    * corpus-governance signal this exists for). */
  def tx28VocabGrowth(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), explode(tokens).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr_bp", expr("n_types * 10000 div n_tokens"))
      .withColumn("hapax_bp", expr("n_hapax * 10000 div n_types"))

  /** tx29: bigram-LM coverage score — the integer-grid stand-in for a
    * perplexity quality filter: each document's share of bigrams that
    * appear in the corpus top-200 bigram vocabulary, in exact bp.
    * Out-of-model bigram mass is the fluency signal (a doc whose
    * transitions the corpus LM has never seen is noise or novelty —
    * tx26 separates which). tx15's two-level shape at bigram
    * granularity: the vocab aggregate shrinks to 200 rows that
    * broadcast back onto the exploded bigram stream. */
  def tx29BigramCoverage(s: SparkSession, d: String): DataFrame = {
    val docBi = Tables.documents(s, d)
      .withColumn("tk", tokens)
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk)-1), i -> concat(element_at(tk, i), ' ', element_at(tk, i+1)))"))
        .as("bigram"))
    val vocab = docBi.groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram")).limit(200)
      .select(col("bigram"), lit(1).as("in_lm"))
    docBi.join(broadcast(vocab), Seq("bigram"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), count(col("in_lm")).as("n_in_lm"))
      .withColumn("coverage_bp", expr("n_in_lm * 10000 div n_bigrams"))
  }

  /** tx30: shared-opening BOILERPLATE detection — the web-scrape
    * header/footer cleanup: documents opening with an identical
    * 8-token prefix repeated across ≥3 documents carry template
    * boilerplate, and the cleaned token count drops the prefix. The
    * prefix doubles as its own blocking key: one hash-groupBy over
    * |docs| short prefixes (partial-agg'd), the flagged-prefix set is
    * tiny (∝ templates, not docs) and broadcasts back — two linear
    * passes, no corpus shuffle at any scale. Complements dd12 (which
    * finds repeats ANYWHERE in the doc); anchoring at position 0 is
    * what makes removal safe without alignment bookkeeping. */
  def tx30Boilerplate(s: SparkSession, d: String): DataFrame = {
    val p = Tables.documents(s, d)
      .withColumn("tk", split(trim(col("text")), " "))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        when(size(col("tk")) >= 8, array_join(slice(col("tk"), 1, 8), " "))
          .as("prefix"))
    val bp = p.filter(col("prefix").isNotNull)
      .groupBy(col("prefix")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 3)
      .select(col("prefix"), lit(1).as("is_bp"))
    p.join(broadcast(bp), Seq("prefix"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        col("is_bp").isNotNull.as("is_boilerplate"),
        when(col("is_bp").isNotNull, col("n_tokens") - 8)
          .otherwise(col("n_tokens")).as("n_tokens_clean"))
  }

  /** tx31: corpus-adaptive stopword discovery — instead of a fixed
    * list (tx11), rank tokens by DOCUMENT frequency and treat the
    * top-30 as this corpus's stopwords, then score each doc's
    * stop-mass in exact ppm. The signal a multilingual/code corpus
    * needs, where a static English list is blind. Scale: the ranking
    * runs over the (token → doc-frequency) aggregate — |vocab| rows,
    * partial-agg'd map-side — and the winner set is 30 rows broadcast
    * back over the token stream; deterministic tie-break (df desc,
    * token asc) keeps both engines on the same boundary. */
  def tx31AdaptiveStopwords(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens).as("tok"))
    val top = toks.groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .orderBy(col("df").desc, col("tok").asc)
      .limit(30)
      .select(col("tok"), lit(1).as("is_stop"))
    toks.join(broadcast(top), Seq("tok"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), count(col("is_stop")).as("n_stop"))
      .withColumn("stop_ppm", expr("n_stop * 1000000 div n_tokens"))
  }

  /** tx32: distinctive-token extraction — each doc's 3 RAREST tokens
    * by corpus document frequency (df asc, token asc tie-break): the
    * integer-exact keyword signal (a rank-only TF-IDF stand-in with
    * no log floats to disagree on). Scale: the (token → df) table is
    * |vocab|-sized, so it joins to the token stream by SHUFFLE on the
    * token key (a vocab can outgrow a broadcast); per-doc selection is
    * a bounded sort_array over that doc's own distinct tokens — no
    * corpus-wide window. */
  def tx32RareTokens(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(array_distinct(tokens)).as("tok"))
    val dfreq = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
    toks.join(dfreq, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(slice(array_sort(collect_list(struct(col("df"), col("tok")))), 1, 3)
        .as("rare"))
      .select(col("doc_id"), posexplode(col("rare")))
      .select(col("doc_id"), (col("pos") + 1).as("rk"),
        col("col.tok").as("tok"), col("col.df").as("df"))
  }

  /** tx33: BPE merge candidates — the top-20 adjacent CHARACTER pairs
    * inside words, i.e. the first iteration of byte-pair-encoding
    * vocabulary training run corpus-wide. Pure per-row expansion
    * (≤ |word| pairs per word, codegen'd transform + explode) into a
    * partial-aggregated pair count; the only shuffle carries the
    * |pair-vocab|-sized partial counts, never the corpus. Top-20 is a
    * TakeOrderedAndProject (per-partition heap + driver merge of 20),
    * not a global sort. Ties break on the pair string. */
  def tx33BpePairs(s: SparkSession, d: String): DataFrame =
    // collapse to word TYPES first (the tx45 trainer's formulation):
    // pair counts weighted by type frequency are arithmetically the
    // per-instance counts, but the char-pair explosion runs over the
    // vocab-sized frame instead of every token instance — the corpus
    // pays one word count, not one row per character
    Tables.documents(s, d)
      .select(explode(tokens).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(20)

  /** tx35: vocabulary encoding — map each doc's first 16 tokens to
    * integer ids from a corpus-derived top-256 vocabulary (rank by
    * count desc, token asc; OOV → 0): the tokenize-to-ids step every
    * training pipeline runs before packing. The vocab is a top-k
    * (per-partition heap, 256 rows) and broadcasts; the id rank is a
    * window over those 256 rows only. Re-assembly sorts by position
    * INSIDE each doc's own collected array — no corpus-wide window,
    * one groupBy shuffle keyed on doc_id. The graded output is the
    * comma-joined id string (array columns are banned from the graded
    * contract — the oracle harness canonicalizes scalars only). */
  def tx35TokenIds(s: SparkSession, d: String): DataFrame = {
    val vocab = Tables.documents(s, d)
      .select(explode(tokens).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(256)
      .withColumn("id", row_number().over(
        Window.orderBy(col("cnt").desc, col("tok"))))
      .select(col("tok"), col("id"))
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(slice(tokens, 1, 16)))
      .withColumnRenamed("col", "tok")
      .join(broadcast(vocab), Seq("tok"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(array_sort(collect_list(
        struct(col("pos"), coalesce(col("id"), lit(0)).as("tid")))),
        x => x("tid")), ",").as("token_ids"))
  }

  /** tx34: per-source distribution drift — total-variation distance
    * (in exact integer ppm) between each source's unigram
    * distribution and the corpus distribution, restricted to the
    * corpus's top-100 tokens: the cheap "did this crawl slice drift?"
    * monitor. All densities live on a ppm integer grid (count·10⁶
    * floor-div total), so the distance is exactly reproducible — no
    * float log/entropy to disagree across engines. Scale: one token
    * scan feeds all three aggregates; the vocab (100 rows) and the
    * per-source totals (|sources| rows) broadcast; the scored grid is
    * |sources|·100 rows. */
  def tx34SourceDivergence(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(tokens).as("tok"))
    val corpusTotal = toks.agg(count(lit(1)).as("c_tot"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c_cnt"))
      .orderBy(col("c_cnt").desc, col("tok")).limit(100)
      .crossJoin(broadcast(corpusTotal))
      .withColumn("ppm_c", expr("c_cnt * 1000000 div c_tot"))
      .select(col("tok"), col("ppm_c"))
    val srcTotals = toks.groupBy(col("source")).agg(count(lit(1)).as("n_tokens"))
    val srcCnt = toks.join(broadcast(vocab.select(col("tok"))), Seq("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("s_cnt"))
    srcTotals.crossJoin(broadcast(vocab))
      .join(srcCnt, Seq("source", "tok"), "left_outer")
      .withColumn("ppm_s",
        expr("coalesce(s_cnt, 0L) * 1000000 div n_tokens"))
      .groupBy(col("source"), col("n_tokens"))
      .agg(sum(abs(col("ppm_s") - col("ppm_c"))).as("tv_ppm"))
  }

  /** tx36: sentence segmentation stats — per doc, sentence count and
    * mean sentence length (words-per-sentence ×100, integer grid), the
    * readability signal quality classifiers lean on (wall-of-text docs
    * and staccato keyword spam sit at the two extremes). Segments are
    * [.!?]+ splits; only segments containing a word character count
    * (split-boundary artifacts — empty or punctuation-only tails —
    * are filtered IDENTICALLY on both engines rather than relying on
    * either's trailing-empty behavior). One codegen'd per-row pass,
    * zero shuffles. */
  def tx36SentenceStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("sents", expr(
        """filter(transform(split(trim(text), '[.!?]+'), x -> trim(x)),
          |  x -> x rlike '[a-zA-Z0-9]')""".stripMargin))
      .withColumn("n_sentences", size(col("sents")).cast("long"))
      .filter(col("n_sentences") > 0)
      .withColumn("n_words", expr(
        "CAST(aggregate(sents, 0, (a, x) -> a + size(split(x, ' +'))) AS BIGINT)"))
      .select(col("doc_id"), col("n_sentences"), col("n_words"),
        expr("n_words * 100 div n_sentences").as("words_per_sent_x100"))

  /** tx37: Simpson lexical-diversity index — the probability that two
    * tokens drawn from a doc without replacement are the same type,
    * Σf·(f−1) ⁄ N·(N−1) on an exact ppm grid. High ppm = concentrated
    * vocabulary (template/spam/keyword-stuffing), low = diverse prose.
    * Needs no logarithm, so unlike an entropy it hash-compares
    * exactly; complements tx20's TTR (type COUNT, blind to balance)
    * and tx23's repetition (surface n-gram repeats). Explode → two
    * stacked aggregations, both keyed on doc_id so the second groupBy
    * reuses the first's partitioning (one effective exchange),
    * partial-agg'd map-side — linear in corpus size at 100 TB. */
  def tx37Simpson(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(expr("c * (c - 1)")).as("rep_pairs"),
        sum(col("c")).as("n_tokens"))
      .filter(col("n_tokens") >= 2)
      .select(col("doc_id"), col("n_tokens"), col("rep_pairs"),
        expr("rep_pairs * 1000000 div (n_tokens * (n_tokens - 1))")
          .as("simpson_ppm"))

  /** tx38: readability banding — Flesch reading-ease class per doc
    * WITHOUT floats: score = 206.835 − 1.015·(W/S) − 84.6·(V/W)
    * (vowel-run count V standing in for syllables) is cross-multiplied
    * by 1000·S·W into N = 206835·S·W − 1015·W² − 84600·V·S, and the
    * 60/30 band thresholds become integer inequalities N ≥ 60000·S·W —
    * a real-valued formula graded on an exact grid, the same move as
    * ev42's CUSUM. A quality-filter complement to tx27's Gopher rules
    * (which gate on ratios, not sentence structure). Three counting
    * regexes per row, zero shuffles, whole-stage codegen end-to-end;
    * W,S,V ≤ 10⁵ keeps N under 10¹⁵ for any plausible document. */
  def tx38Readability(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("w", size(split(trim(col("text")), " ")).cast("long"))
      .withColumn("sr", expr(
        """CAST(size(filter(split(text, '[.!?]+'), x -> trim(x) != ''))
          |  AS BIGINT)""".stripMargin))
      .withColumn("sn", greatest(col("sr"), lit(1L)))
      .withColumn("v", expr(
        "CAST(size(split(lower(text), '[aeiou]+')) - 1 AS BIGINT)"))
      .filter(col("w") >= 1)
      .withColumn("flesch_num",
        lit(206835L) * col("sn") * col("w") - lit(1015L) * col("w") * col("w")
          - lit(84600L) * col("v") * col("sn"))
      .select(col("doc_id"), col("w").as("n_words"), col("sn").as("n_sents"),
        col("v").as("n_vowel_runs"),
        when(col("flesch_num") >= lit(60000L) * col("sn") * col("w"), "easy")
          .when(col("flesch_num") >= lit(30000L) * col("sn") * col("w"),
            "medium")
          .otherwise("hard").as("band"))

  /** tx39: collocation strength — the top-20 adjacent word pairs by
    * LIFT, the log-free monotone stand-in for PMI (lift = p(xy) ⁄
    * p(x)p(y) = c_xy·N ⁄ c_x·c_y, scaled to an exact integer — PMI is
    * log(lift), so the RANKING is identical and nothing floats).
    * Collocations are what tx05's raw frequency can't see: "of the"
    * tops every count list while a rare-but-bound pair tops lift. Min
    * support 5 keeps one-off pairs from gaming the ratio. Three
    * partial-agg'd count passes (pairs, unigrams, total) joined on the
    * pair's two words, then a global top-20 — a bounded take-ordered,
    * not a full sort. */
  def tx39BigramLift(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(tokens).as("tok"))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val uniTot = toks.agg(count(lit(1)).as("n_tokens"))
    val pairs = Tables.documents(s, d)
      .select(explode(expr(
        """filter(zip_with(split(trim(text), ' '),
          |  slice(split(trim(text), ' '), 2, size(split(trim(text), ' '))),
          |  (a, b) -> struct(a AS w1, b AS w2)), p -> p.w2 IS NOT NULL)"""
          .stripMargin)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 5)
    pairs
      .join(uni.select(col("tok").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("c").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(uniTot))
      .select(col("w1"), col("w2"), col("c_xy"),
        expr("c_xy * n_tokens * 1000000 div (c_x * c_y)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** tx40: skip-gram co-occurrence — token pairs within a ±2 window
    * (the word2vec / GloVe input statistic), NOT just adjacent like
    * tx05/tx39: "big table" and "big sorted table" both feed the same
    * (big, table) cell. The pair fan-out is built per-row with array
    * functions (each position pairs with its next two), so there is
    * NO positional self-join — the naive formulation joins a corpus
    * of positions against itself on doc_id and filters |i−j| ≤ 2,
    * materializing len² candidates per doc; this one materializes
    * exactly the 2·len pairs that survive. One explode + count,
    * min-support 5, bounded take-ordered top-20. */
  def tx40Skipgrams(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(expr(
        """concat(
          |  filter(zip_with(split(trim(text), ' '),
          |    slice(split(trim(text), ' '), 2, size(split(trim(text), ' '))),
          |    (x, y) -> struct(x AS w1, y AS w2)), p -> p.w2 IS NOT NULL),
          |  filter(zip_with(split(trim(text), ' '),
          |    slice(split(trim(text), ' '), 3, size(split(trim(text), ' '))),
          |    (x, y) -> struct(x AS w1, y AS w2)), p -> p.w2 IS NOT NULL))"""
          .stripMargin)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_cooc"))
      .filter(col("n_cooc") >= 5)
      .orderBy(col("n_cooc").desc, col("w1"), col("w2"))
      .limit(20)

  /** tx41: compressibility filter — DEFLATE ratio per document, the
    * quality signal that catches repetition at EVERY granularity at
    * once (sub-token, cross-line, boilerplate blocks) where tx23/tx27
    * only see token-level repeats: templated text compresses far below
    * the ~60% floor of natural prose. The ratio rides the codegen'd
    * `deflate_len` expression (one reused Deflater per thread, no
    * per-row allocation) — one scan, zero shuffles, and the 10 kB/row
    * CPU cost is exactly what you pay ONCE per doc at ingest, not per
    * query. Declared rows-only: no SQL engine exposes deflate; the
    * spec pins the semantics (repetitive ≪ diverse, bands populated,
    * deterministic within a JVM). */
  def tx41Compressibility(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        expr("CAST(deflate_len(text) AS BIGINT)").as("deflate_bytes"))
      .filter(col("n_bytes") > 0)
      .withColumn("ratio_bp", expr("deflate_bytes * 10000 div n_bytes"))
      .withColumn("band",
        when(col("ratio_bp") < 2500, "highly_repetitive")
          .when(col("ratio_bp") < 4500, "repetitive")
          .otherwise("normal"))
  }

  /** tx43: the fused per-doc signal sweep — every cheap lexical signal
    * (token counts, distinct ratio, stopword evidence, punctuation
    * density, length band, content fingerprint, keep gate) computed in
    * ONE projection over ONE corpus scan, zero shuffles. This is the
    * operator-fusion economics that dominates at 100 TB: the dashboard
    * that runs tx01+tx02+tx16+tx04 as separate queries pays four full
    * corpus reads for signals that share a scan; a real ingest pass
    * computes them together and pays one. The keep gate is the same
    * cross-multiplied integer form the standalone filters use (no
    * float thresholds), so the sweep is hash-exact end to end. A
    * plan spec asserts the zero-exchange shape. */
  def tx43SignalSweep(s: SparkSession, d: String): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    Tables.documents(s, d)
      .withColumn("tk", tokens)
      .select(
        col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(array_distinct(col("tk"))).cast("long").as("n_distinct"),
        size(filter(col("tk"), t => array_contains(stopArr, t))).cast("long")
          .as("stop_cnt"),
        length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("long")
          .as("punct_cnt"),
        least(lit(3L), expr("n_chars div 150")).as("len_band"),
        expr(
          "CAST(conv(substring(md5(cast(trim(text) AS BINARY)), 1, 8), 16, 10) AS BIGINT)")
          .as("fp"))
      .withColumn("ttr_ppm", expr("n_distinct * 1000000 div n_tokens"))
      .withColumn("kept",
        (col("n_tokens").between(5, 200) &&
          col("stop_cnt") * 10 >= col("n_tokens")).cast("int").cast("long"))
  }

  /** tx42: per-document n-gram novelty vs the corpus PREFIX — what
    * share of a doc's 8-token shingles appears in NO earlier doc
    * (doc_id order = ingest order). The marginal-content curve behind
    * "is scrape batch N still adding anything": dedup (dd12) finds
    * the repeats, this measures each doc's novel remainder. One
    * shingle explode (input-sized, the hashes computed BEFORE the
    * shuffle), a min-owner partial agg, and a hash join back on the
    * shingle key — frames ∝ distinct shingles, never pairs. ppm
    * integer grid; docs under 8 tokens carry no shingles and are
    * excluded (same filter both engines). */
  def tx42NgramNovelty(s: SparkSession, d: String): DataFrame = {
    val W = 8
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      // one md5 per 8-token window over a single-split table: widen
      // before the hash explode (the dd15/mm10 CPU-dense rule, r13)
      .repartition(s.sparkContext.defaultParallelism * 2)
      .withColumn("tk", split(trim(col("text")), " "))
      .filter(size(col("tk")) >= W)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"""transform(sequence(1, size(tk)-$W+1),
           |  i -> md5(cast(array_join(slice(tk, i, $W), ' ') as binary)))"""
          .stripMargin))).as("sh"))
    // per-shingle min owner via ONE window pass (r13): the old
    // groupBy+join-back referenced the un-cut explode twice — the
    // whole 8-token shingle hash pipeline ran once for the owner
    // aggregate and again for the probe side — and shuffled both the
    // exploded frame AND the vocab-sized owner table; min over the
    // shingle partition reads the explode once, exchanges it once,
    // and first_doc is the identical value per row.
    sh.withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy(col("sh"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novel_ppm", expr("n_novel * 1000000 div n_shingles"))
  }

  /** tx44: common-token density — each doc's mean corpus-frequency
    * (exact ppm grid) over its tokens: the rank-free "perplexity
    * proxy" quality signal — gibberish, ID dumps, and boilerplate
    * code sit LOW (rare-token-heavy), natural prose sits high — that
    * quality classifiers use when a real LM is too expensive for a
    * full-corpus pass. Unlike a rank-based form this needs NO global
    * vocabulary sort (a corpus-sized partition-less window at 100 TB):
    * one token explode feeds both the 1-row total (broadcast) and the
    * vocab-sized frequency aggregate, then a hash join back on the
    * token key — frames ∝ |vocab|, arithmetic exact integer end to
    * end (ppm = cnt·10⁶ div total; mean = Σppm div n). */
  def tx44Commonness(s: SparkSession, d: String): DataFrame = {
    val toks = CacheScope.cached(
      Tables.documents(s, d).select(col("doc_id"), explode(tokens).as("tok")))
    val total = toks.agg(count(lit(1)).as("tot"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .select(col("tok"), expr("cnt * 1000000 div tot").as("ppm"))
    toks.join(freq, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("ppm")).as("ppm_sum"))
      .select(col("doc_id"), col("n_tokens"),
        expr("ppm_sum div n_tokens").as("mean_ppm"))
  }

  /** BPE machinery shared by tx45/tx46 — tx33 computed only the FIRST
    * merge's pair counts; this is the actual trainer. Symbol sequences
    * are carried as a WRAPPED string, every symbol as `<sym>`, so one
    * merge is one plain non-overlapping left-to-right `replace` of
    * `<a><b>` with `<ab>` — exactly the greedy BPE merge ("aaa" under
    * (a,a) → "<aa><a>"), cross-symbol false matches are impossible
    * (the `><` boundary can't be spanned), and the whole chain replays
    * verbatim in DuckDB (the corpus contains no literal < or >;
    * word-type frame ∝ vocab, never corpus). Each round: pair counts
    * weighted by word-type frequency (one vocab-sized aggregate), a
    * 1-row argmax (cnt desc, pair asc), and a broadcast-crossJoin
    * replace — gr03's fixed-unroll discipline, 10 rounds. */
  private val bpeRounds = 10

  private def bpeWrapExpr(in: String): String =
    s"concat_ws('', transform(sequence(1, length($in)), j -> concat('<', substring($in, j, 1), '>')))"

  /** Word types with corpus counts and initial per-character symbols. */
  private def bpeWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(tokens).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .withColumn("syms", expr(bpeWrapExpr("w")))

  /** The learned merge chain: one 1-row (pa, pb, cnt) frame per round,
    * in rank order, built over progressively-merged word types. Each
    * round's words frame ends in a lazy truncation (NOT a cache): the
    * round plan references the prior round through both the pair
    * aggregate and the replace, and nested per-round InMemoryRelations
    * make the explain string grow geometrically (the documented
    * gr03/AQE OOM hazard) — truncation keeps every round's plan flat. */
  private def bpeChain(s: SparkSession, d: String): Seq[DataFrame] =
    bpeChainWithWords(s, d)._1

  /** The merge chain PLUS the fully-merged word-type frame the trainer
    * ends on — tx50 consumes the latter directly, so the vocab build
    * costs no second corpus scan and no re-application of the merges
    * (the trainer already segmented every word type). */
  /** MEMOIZED per session: tx45, tx46 and tx50 all train the
    * IDENTICAL merge chain, and each round's truncation mints fresh
    * checkpoint RDDs per call, so plan-identity caching alone never
    * dedupes the three trainers (the dd06/dd02 memo discipline). */
  private def bpeChainWithWords(
      s: SparkSession, d: String): (Seq[DataFrame], DataFrame) =
    memo(s, "bpeChainWithWords", d)(bpeChainWithWordsNow(s, d))

  private def bpeChainWithWordsNow(
      s: SparkSession, d: String): (Seq[DataFrame], DataFrame) = {
    import Checkpoints.TruncateOps
    var words = bpeWords(s, d).truncated
    val chain = (1 to bpeRounds).map { _ =>
      val best = CacheScope.cached(words
        .withColumn("arr", expr("split(substring(syms, 2, length(syms) - 2), '><')"))
        .filter(size(col("arr")) >= 2)
        .select(col("wc"), explode(expr(
          """transform(sequence(1, size(arr) - 1),
            |  i -> struct(element_at(arr, CAST(i AS INT)) AS pa,
            |              element_at(arr, CAST(i AS INT) + 1) AS pb))""".stripMargin))
          .as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("pa"), col("pb")).limit(1))
      words = words
        .crossJoin(broadcast(best.select(col("pa"), col("pb"))))
        .withColumn("syms", expr(
          "replace(syms, concat('<', pa, '><', pb, '>'), concat('<', pa, pb, '>'))"))
        .drop("pa", "pb")
        .truncated
      best
    }
    (chain, words)
  }

  /** tx45: BPE trainer — the 10 learned merges in rank order, each with
    * the pair count that won its round (counted over word TYPES
    * weighted by corpus frequency, the standard formulation). */
  def tx45BpeMerges(s: SparkSession, d: String): DataFrame =
    bpeChain(s, d).zipWithIndex.map { case (b, i) =>
      b.select(lit((i + 1).toLong).as("merge_rank"),
        col("pa").as("left_sym"), col("pb").as("right_sym"),
        col("cnt").as("pair_count"))
    }.reduce(_ unionByName _)

  /** tx46: BPE encoder — each doc's first 8 tokens segmented with the
    * tx45-learned merges (the apply side of the trainer: 10 broadcast
    * crossJoin replaces over the exploded token stream, then per-doc
    * reassembly inside each doc's own collected array, tx35's
    * pattern). Output is the piece count and the comma-joined pieces
    * (arrays are banned from the graded contract). */
  def tx46BpeEncode(s: SparkSession, d: String): DataFrame = {
    val chain = bpeChain(s, d)
    var enc = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(slice(tokens, 1, 8)).as(Seq("pos", "w")))
      .filter(length(col("w")) >= 1)
      .withColumn("syms", expr(bpeWrapExpr("w")))
      .drop("w")
    chain.zipWithIndex.foreach { case (b, r) =>
      enc = enc
        .crossJoin(broadcast(b.select(col("pa").as(s"pa$r"), col("pb").as(s"pb$r"))))
        .withColumn("syms", expr(
          s"replace(syms, concat('<', pa$r, '><', pb$r, '>'), concat('<', pa$r, pb$r, '>'))"))
        .drop(s"pa$r", s"pb$r")
    }
    enc
      .withColumn("ps", expr("split(substring(syms, 2, length(syms) - 2), '><')"))
      .groupBy(col("doc_id"))
      .agg(
        sum(size(col("ps")).cast("long")).as("n_pieces"),
        array_join(flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("ps").as("pw")))),
          x => x("pw"))), ",").as("pieces"))
  }

  /** tx50: subword vocabulary under the learned tokenizer — the
    * artifact a tokenizer build actually ships (vocab file + frequency
    * stats): segment the corpus with tx45's 10 learned merges and
    * report, per resulting piece, how many word TYPES contain it and
    * its total corpus occurrences (type count × word frequency — the
    * exact corpus token count under that segmentation, no second
    * corpus pass: the trainer's FINAL word-type frame — weights, fully
    * merged symbols and all — is consumed as-is via bpeChainWithWords,
    * so the vocab build adds only the vocab-sized piece explode on top
    * of the training run it shares). */
  def tx50SubwordVocab(s: SparkSession, d: String): DataFrame = {
    // the trainer's own final word frame IS the segmented corpus: no
    // second corpus scan, no re-application of the 10 merges
    val (_, words) = bpeChainWithWords(s, d)
    words
      .select(col("w"), col("wc"),
        explode(expr("split(substring(syms, 2, length(syms) - 2), '><')")).as("piece"))
      .groupBy(col("piece"))
      .agg(countDistinct(col("w")).as("n_word_types"),
        sum(col("wc")).as("n_occurrences"))
      .withColumn("piece_len", length(col("piece")).cast("long"))
  }

  /** tx47: unigram-LM surprise filter — the CCNet-style perplexity
    * partition (Wenzek et al. 1911.00359) with the corpus's own
    * unigram model standing in for the external KenLM: each token
    * type's surprise −ln p(tok) is computed ONCE on the vocab-sized
    * frame (micro-nat integer grid: round(ln·10⁶) of a double both
    * engines derive from the same int64 division — the tx08 ln
    * precedent), then joined back over the token stream and
    * integer-averaged per doc, so no float ever crosses an aggregate
    * (summation order can't touch the hash). Docs are banded
    * head / middle / tail by the CORPUS TERCILES of mean surprise —
    * exactly CCNet's bucket rule — via two percentile_disc thresholds
    * (the q61 cross-engine precedent): a 2-value frame broadcast over
    * a row-local comparison, never a global ntile sort of the corpus.
    * Scale: one corpus scan + one vocab aggregate + one hash join on
    * the token key (AQE broadcasts the vocab side when it fits); the
    * per-doc agg is partial-aggregable. */
  def tx47Surprise(s: SparkSession, d: String): DataFrame = {
    val toks = CacheScope.cached(
      Tables.documents(s, d).select(col("doc_id"), explode(tokens).as("tok")))
    val total = toks.agg(count(lit(1)).as("c_tot"))
    val surprise = toks.groupBy(col("tok")).agg(count(lit(1)).as("c_cnt"))
      .crossJoin(broadcast(total))
      .select(col("tok"),
        round(log(col("c_tot") * lit(1.0) / col("c_cnt")) * lit(1000000.0), 0)
          .cast("long").as("snat"))
    val perDoc = CacheScope.cached(toks.join(surprise, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("snat")).as("snat_sum"))
      .select(col("doc_id"), col("n_tokens"),
        expr("snat_sum div n_tokens").as("mean_surprise_unat")))
    val thr = perDoc.agg(
      expr("percentile_disc(1.0/3) WITHIN GROUP (ORDER BY mean_surprise_unat)")
        .as("t1"),
      expr("percentile_disc(2.0/3) WITHIN GROUP (ORDER BY mean_surprise_unat)")
        .as("t2"))
    perDoc.crossJoin(broadcast(thr))
      .withColumn("ppl_band",
        when(col("mean_surprise_unat") <= col("t1"), "head")
          .when(col("mean_surprise_unat") <= col("t2"), "middle")
          .otherwise("tail"))
      .drop("t1", "t2")
  }

  /** tx48: BIGRAM-LM surprise — one Markov order above tx47: each
    * doc's mean −ln p(w₂|w₁) under the corpus's own add-1-smoothed
    * bigram model, p = (c(w₁w₂)+1) ⁄ (c(w₁·)+V). The unigram model
    * scores gibberish-with-common-words as fluent; the bigram model
    * catches broken word ORDER (shuffled scrapes, template stuffing,
    * MT failures) — the cheapest LM that sees syntax at all. Same
    * determinism contract as tx47/tx08: surprise is computed ONCE per
    * DISTINCT bigram (a vocab²-bounded frame, ∝ distinct bigrams not
    * corpus) on the micro-nat grid — round(ln·10⁶) of a double both
    * engines derive from the same three int64s — then hash-joined
    * back onto the doc bigram stream and integer-averaged per doc, so
    * no float ever crosses an aggregate. Scale: one corpus scan for
    * the bigram stream (cached for its two consumers), two
    * vocab-sized aggregates, a 1-row V broadcast, one hash join on
    * the bigram key; per-doc agg partial-aggregates. */
  def tx48BigramSurprise(s: SparkSession, d: String): DataFrame = {
    val bi = CacheScope.cached(Tables.documents(s, d)
      .withColumn("tk", tokens)
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk)-1), i -> struct(element_at(tk, i) AS w1, element_at(tk, i+1) AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2")))
    val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vocab = Tables.documents(s, d).select(explode(tokens).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    val surprise = c12.join(c1, Seq("w1")).crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        round(log((col("c1") + col("v")) * lit(1.0) / (col("c12") + lit(1)))
          * lit(1000000.0), 0).cast("long").as("snat"))
    bi.join(surprise, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("snat")).as("snat_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("snat_sum div n_bigrams").as("mean_surprise2_unat"))
  }

  /** tx49: code-vs-prose routing classifier — the corpus-split
    * decision every mixed crawl makes before tokenization (code wants
    * different normalization, dedup granularity, and mix weight than
    * prose). Two independent row-local signals, both exact-integer:
    * structural-symbol density ({}[]();=<> chars per 10⁴ chars — code
    * syntax is symbol-dense at every line length) and reserved-word
    * hits (whole tokens ∈ a 12-keyword cross-language set — catches
    * symbol-light code like Python). is_code = symbol density ≥ 300 bp
    * OR ≥ 3 keyword hits. Zero shuffles — one projection over the
    * scan, tx43's fused-ingest economics; both regex counters are
    * codegen'd. The 300 bp / 3-hit thresholds are deliberately
    * corpus-free constants (documented, spec-planted) so routing is
    * stable across batches — no corpus statistic to drift. */
  def tx49CodeDetect(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text")).as("n_chars"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[{}\\[\\]();=<>]", "")))
          .cast("long").as("sym_cnt"),
        size(filter(tokens, t => t.isin("def", "return", "var", "let",
          "void", "class", "import", "public", "static", "function",
          "const", "elif"))).cast("long").as("kw_hits"))
      .withColumn("sym_bp",
        when(col("n_chars") > 0, expr("sym_cnt * 10000 div n_chars"))
          .otherwise(lit(0L)))
      .withColumn("is_code",
        (col("sym_bp") >= 300L || col("kw_hits") >= 3L).cast("int"))

  /** tx51: per-SOURCE hapax profile — the share of a source's
    * vocabulary that occurs exactly once IN THAT SOURCE (hapax
    * legomena). Twin readings, both operational: a hapax share far
    * ABOVE the corpus norm signals OCR/mojibake noise or aggressive
    * token splitting (garbage tokens are almost always unique), far
    * BELOW signals templated/boilerplate text (tx30's signal from
    * the vocabulary side). tx32 ranks each doc's globally rarest
    * tokens; this is the source-level distributional audit a crawl
    * triage reads next to tx25's quality board. All counts exact
    * int64: vocab size, hapax count, hapax share in bp, plus
    * token-level hapax mass (hapax tokens ∕ total tokens, bp). One
    * (source, token) partial agg off the token scan, then a
    * \|sources\|-row rollup — nothing corpus-sized after the first
    * shuffle. */
  def tx51HapaxProfile(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), explode(tokens).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(col("n")).as("n_tokens"))
      .withColumn("hapax_share_bp", expr("hapax * 10000 div vocab"))
      .withColumn("hapax_mass_bp", expr("hapax * 10000 div n_tokens"))
      .select(col("source"), col("vocab"), col("hapax"),
        col("n_tokens"), col("hapax_share_bp"), col("hapax_mass_bp"))
}
