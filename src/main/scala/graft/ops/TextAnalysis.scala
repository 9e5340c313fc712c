package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{SharedFrames, Tables}
import Util._

/** Extended text-analysis ops for LLM training-data pipelines
  * (SURVEY.md §2.11 extensions): language-ID, quality scoring, BPE-ish
  * token counting, shingle fingerprinting.
  *
  * All four are single-pass scans with per-row expression work followed
  * by at most one hash aggregate — the at-scale shape is "map-side
  * everything": no join, no extra shuffle beyond the final groupBy, and
  * the per-doc expressions stay in whole-stage codegen (built-in
  * functions + HOFs only, no UDFs).
  */
object TextAnalysis {

  private def toks: Column = split(lower(col("text")), " ")

  /** Session-scoped shared (doc_id, source, token, c) token-count frame
    * — the fourth shared materialization (pair graph, bigram frame,
    * 8-gram shingles, now the unigram counts; §7.7 carry-forward #3).
    * Seven readouts re-derived this identical frame from raw text —
    * q_text_unigram_lm / q_text_tfidf / q_text_rarity /
    * q_text_keyword_extract / q_text_tf / q_text_zipf / q_text_hapax —
    * each paying its own corpus explode + (doc, token) hash agg. A
    * 100 TB pipeline tokenizes and counts ONCE and fans every
    * LM/ranking/rarity readout off the materialization; the exploded
    * token stream never replays per query. A [[graft.SharedFrames]]
    * entry of fixed-width rows (ids + one token + a count). `source`
    * rides along (functionally dependent on doc_id — the group key is
    * effectively (doc_id, token)) so q_text_rarity needs no extra doc
    * join. */
  private[graft] def docTokenCounts(s: SparkSession, sf: String): DataFrame =
    SharedFrames.getOrBuild("docTokenCounts", s, sf)(
      Tables.documents(s, sf).repartition(32)
        .select(col("doc_id"), col("source"), explode(toks).as("token"))
        .where(col("token") =!= "")
        .groupBy(col("doc_id"), col("source"), col("token"))
        .agg(count(lit(1)).as("c"))
        .serCheckpoint())

  /** Deterministic per-language marker-token profiles. On real corpora
    * these would be the top character n-grams / function words per
    * language; the mechanism (profile hit-count → argmax with a stable
    * tie-break) is the standard dictionary language-ID shape. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("stream", "merge", "hash", "row"),
    "en" -> Seq("the", "a", "table", "order"),
    "es" -> Seq("agg", "scan", "group", "slow"),
    "fr" -> Seq("query", "batch", "data", "key"),
    "zh" -> Seq("join", "small", "customer", "value"))

  /** n-gram-dictionary language ID: occurrence count of each language's
    * marker tokens, argmax with alphabetical tie-break; output is the
    * label × prediction confusion matrix. */
  def qTextLangid(s: SparkSession, sf: String): DataFrame = {
    val scored = Tables.documents(s, sf).withColumn("tk", toks)
    val withScores = markers.foldLeft(scored) { case (df, (l, ms)) =>
      df.withColumn(s"s_$l",
        size(filter(col("tk"), t => ms.map(t === _).reduce(_ || _))))
    }
    // argmax with alphabetical preference on ties — mirrored CASE chain
    // in the oracle SQL.
    val langs = markers.map(_._1)
    def sc(l: String): Column = col(s"s_$l")
    val predicted =
      when(langs.tail.map(o => sc("de") >= sc(o)).reduce(_ && _), "de")
        .when(langs.drop(2).map(o => sc("en") >= sc(o)).reduce(_ && _), "en")
        .when(langs.drop(3).map(o => sc("es") >= sc(o)).reduce(_ && _), "es")
        .when(sc("fr") >= sc("zh"), "fr")
        .otherwise("zh")
    withScores.withColumn("pred_lang", predicted)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "pred_lang")
  }

  /** Heuristic quality score per doc — repetition (distinct-token
    * ratio), mean word length, stopword ratio — aggregated per source.
    * Per-doc score is rounded (at a tie-free scale, see below) before
    * the decimal-sum average so the cross-engine aggregate is exact. */
  def qTextQuality(s: SparkSession, sf: String): DataFrame = {
    val d = Tables.documents(s, sf)
      .withColumn("tk", toks)
      .withColumn("n_words", size(col("tk")).cast("double"))
      .withColumn("distinct_ratio",
        size(array_distinct(col("tk"))) / col("n_words"))
      .withColumn("mean_wlen",
        (col("n_chars") - col("n_words") + lit(1.0)) / col("n_words"))
      .withColumn("stop_ratio",
        size(filter(col("tk"), t => t === "the" || t === "a")) / col("n_words"))
      // fixed-point at 1e-6 via floor(x*1e6 + 0.5), NOT round(x, 6):
      // round()'s implementations diverge — Spark rounds the
      // shortest-decimal string HALF_UP, DuckDB rounds the binary
      // value — and on a corpus whose token-length mix makes quality a
      // non-terminating rational (the salted sf1 set did exactly
      // that), the two disagree in the 6th decimal. floor on a double
      // is exact on every engine, and the /1e6 is one deterministic
      // IEEE division of identical inputs.
      .withColumn("quality", floor((
        lit(0.4) * col("distinct_ratio") +
        lit(0.3) * least(col("mean_wlen") / lit(8.0), lit(1.0)) +
        lit(0.3) * (lit(1.0) - col("stop_ratio"))) * lit(1e6) + lit(0.5)) / lit(1e6))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           (dsum(col("quality"), 6) / count(lit(1))).as("avg_quality"),
           sum(when(col("quality") < 0.5, 1L).otherwise(0L)).as("n_low"))
      .orderBy("source")
  }

  /** BPE-ish token accounting: lexer-style regex tokens (letter runs /
    * digit runs / single symbols), plus a 4-chars-per-piece subword
    * estimate — the whitespace count and the piece count bracket the
    * true BPE token count. */
  def qTextTokens(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      .withColumn("rtk",
        regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
      .select(
        col("doc_id"),
        size(col("rtk")).cast("long").as("n_tokens"),
        aggregate(transform(col("rtk"), t => ceil(length(t) / lit(4.0)).cast("long")),
                  lit(0L), (a, x) => a + x).as("n_pieces"))
      .orderBy("doc_id")

  /** Deterministic 1/8 corpus sample: keep docs whose md5(doc_id) starts
    * with '0' or '1' (2 of 16 hex buckets). Hash-based sampling is the
    * at-scale form — stable across runs and engines, no RNG state,
    * trivially parallel (each task filters its own split, nothing
    * shuffles until the ordered output). At 100 TB the bucket would be
    * materialized as a partition column so the filter prunes whole
    * files; md5 of the id string is identical in Spark and DuckDB. */
  def qSampleHash(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      .where(md5Bucket(col("doc_id")).isin("0", "1"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")

  /** Deterministic train/val/test split (12/2/2 of 16 md5 buckets) with
    * per-(split, lang) accounting. The assignment is a pure function of
    * doc_id, so it is reproducible shard-by-shard at any scale and any
    * partitioning — the property a training pipeline needs from a split. */
  def qSampleSplit(s: SparkSession, sf: String): DataFrame = {
    Tables.documents(s, sf)
      .withColumn("split", trainValTest(col("doc_id")))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("sum_chars"),
           min(col("doc_id")).as("min_doc"),
           max(col("doc_id")).as("max_doc"))
      .orderBy("split", "lang")
  }

  /** Exact-size stratified sample: per language, EXACTLY ceil(10%) of
    * docs, chosen by md5-hash rank — reproducible like q_sample_hash
    * but with a guaranteed per-stratum quota (hash-threshold sampling
    * only hits the rate in expectation; small or skewed strata can
    * land far off). One range exchange on (lang, h, doc_id) computes
    * the rank; the stratum sizes and offsets are a ≤ #langs aggregate
    * over it. */
  def qSampleStratified(s: SparkSession, sf: String): DataFrame = {
    // not a window partitioned by lang: that is ~5 partitions at ANY
    // scale, each a data-sized frame in one task. One rankedByRange over
    // (lang, h, doc_id) range-partitions the whole frame; each lang's
    // block is contiguous in that total order, so withinStratum turns
    // the global rank into the per-lang rank and count.
    val base = Tables.documents(s, sf)
      .select(col("doc_id"), col("lang"),
              md5(col("doc_id").cast("string")).as("h"))
    val r = Util.rankedByRange(base,
      Seq(col("lang"), col("h"), col("doc_id")), "__gr")
    Util.withinStratum(r, "lang", "__gr", lit(1L), "rk", "n_lang")
      .where(col("rk") <= ceil(col("n_lang") / lit(10.0)))
      .select(col("doc_id"), col("lang"), col("rk"))
      .orderBy("lang", "rk")
  }

  /** URL canonicalization + domain rollup — the web-corpus curation
    * step (per-domain quotas, domain blocklists, canonical-URL dedup
    * all start here). The fixture has no URLs, so the op DECLARES a
    * deterministic injection (mirrored verbatim in the oracle): every
    * doc gets a source-derived URL with tracking-noise query params and
    * mixed-case host. Pipeline: canonicalize (lowercase host, strip
    * `?...` and trailing slash) → parse host/TLD via shared-subset
    * regex → per-host rollup. Map-side expressions + one hash agg. */
  def qTextUrls(s: SparkSession, sf: String): DataFrame = {
    val tld = when(col("doc_id") % 3 === 0, ".com")
      .when(col("doc_id") % 3 === 1, ".org").otherwise(".net")
    val rawUrl = concat(
      when(col("doc_id") % 2 === 0, "https://WWW.").otherwise("https://www."),
      col("source"), tld, lit("/"), col("lang"), lit("/"),
      col("doc_id").cast("string"),
      when(col("doc_id") % 4 === 0, "/").otherwise(""),
      when(col("doc_id") % 2 === 0, "?utm_source=feed&ref=42").otherwise(""))
    val canon = regexp_replace(
      regexp_replace(lower(rawUrl), "\\?.*$", ""), "/$", "")
    Tables.documents(s, sf)
      .select(col("lang"), col("n_chars"), canon.as("url"))
      .select(col("lang"), col("n_chars"),
        regexp_extract(col("url"), "^https://([a-z0-9.]+)/", 1).as("host"))
      .withColumn("tld", regexp_extract(col("host"), "\\.([a-z]+)$", 1))
      .groupBy(col("host"), col("tld"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        count_distinct(col("lang")).as("n_langs"))
      .orderBy("host")
  }

  /** URL-canonicalization dedup — the FIRST gate of a crawl pipeline
    * (before any content hashing): the same page recurs under raw-URL
    * decorations — scheme variants, `WWW.` casing, tracking params,
    * trailing slashes — and canonical-URL grouping removes those
    * re-crawls for the cost of one string normalization + hash agg,
    * never touching page bytes. Raw URLs are synthesized per doc like
    * [[qTextUrls]] (fixture docs carry no literal URLs), with ~4 docs
    * sharing a canonical page under different decorations. Chain:
    * lower → strip scheme → strip `www.` → strip query/fragment →
    * strip trailing slash (each regex in the Java∩RE2 shared subset).
    * Shuffles (canonical-url, id, n_chars) only — at 100 TB the
    * normalization rides the scan, the agg is the only exchange. */
  def qDedupUrl(s: SparkSession, sf: String): DataFrame = {
    // the PAGE identity derives from doc_id div 4 alone — four raw
    // crawl records share each canonical page under different
    // decorations, so the dedup has real work to do (n_copies ≈ 4)
    val page = expr("doc_id div 4")
    val tld = when(page % 3 === 0, ".com")
      .when(page % 3 === 1, ".org").otherwise(".net")
    val raw = concat(
      when(col("doc_id") % 2 === 0, "HTTPS://WWW.").otherwise("http://"),
      lit("site-"), expr("doc_id div 40").cast("string"), tld,
      lit("/page-"), page.cast("string"),
      when(col("doc_id") % 4 === 0, "/").otherwise(""),
      when(col("doc_id") % 2 === 1, "?utm_campaign=crawl&session=9").otherwise(""),
      when(col("doc_id") % 8 === 2, "#fragment").otherwise(""))
    val canon =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(raw), "^https?://", ""),
            "^www\\.", ""),
          "[?#].*$", ""),
        "/$", "")
    Tables.documents(s, sf)
      .select(col("doc_id"), col("n_chars"), canon.as("url"))
      .groupBy(col("url"))
      .agg(min(col("doc_id")).as("keep_id"),
           count(lit(1)).as("n_copies"),
           sum(col("n_chars")).as("total_chars"))
      .orderBy("keep_id")
  }

  /** Exact-size-k per-stratum sample by HASH RANK — the distributed,
    * deterministic equivalent of reservoir sampling: rank docs inside
    * each lang by (md5(doc_id), doc_id) and keep the first 10. Every
    * doc is equally likely under the hash ordering (same marginal as a
    * reservoir), but the selection is reproducible across shards,
    * engines and re-runs — no RNG state to synchronize, which is what
    * breaks naive reservoirs on 1000 executors. One window shuffle on
    * lang; at 100 TB with billions of rows per stratum the same rank
    * is computed as a per-partition top-k + merge (TakeOrdered per
    * group), never a full sort. */
  def qSampleReservoir(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, sf)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 10)
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
      .orderBy("lang", "rk")
  }

  /** Deterministic per-lang weighted sampling — the domain-mixture
    * reweighting step (DoReMi-style mixture tuning, rates fixed up
    * front): keep a doc iff its [[Util.md5Bucket]] hex digit is ≤ the
    * language's threshold, giving exact /16 rates (en 16/16, de 8/16,
    * es 4/16, fr 2/16, zh 1/16) that are reproducible across shards and
    * engines — no RNG state, no sort. Realized rate reported as the
    * integer fixed-point `1000·kept div total`. Map-side predicate +
    * one hash agg; at 100 TB the filter is free (rides the scan) and
    * the agg touches |langs| rows. */
  def qSampleWeighted(s: SparkSession, sf: String): DataFrame = {
    val thr = when(col("lang") === "de", "7").when(col("lang") === "en", "f")
      .when(col("lang") === "es", "3").when(col("lang") === "fr", "1")
      .otherwise("0")
    Tables.documents(s, sf)
      .select(col("lang"), col("n_chars"),
        (md5Bucket(col("doc_id")) <= thr).as("kept"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      .withColumn("rate_scaled", expr("1000 * n_kept div n_total"))
      .orderBy("lang")
  }

  /** Class-balanced downsample — equalize the language mix by keeping
    * exactly k = min-class-size docs per language, chosen by md5-hash
    * rank (the [[qSampleStratified]] determinism: reproducible across
    * shards, partitionings, and engines — no RNG). The move a
    * multilingual training run makes when one language dominates the
    * crawl and the mixture must be flattened without upsampling.
    * Emits the kept (doc_id, lang, rk) membership so downstream stages
    * join against it. Shape: one (lang)-partitioned window for the
    * rank (low-cardinality strata, range-distributed within the
    * window's partitioning at scale) + a constant 1-row quota frame
    * from per-class counts (catalog statistics in a real deployment)
    * broadcast into a map-side filter. */
  def qSampleBalanced(s: SparkSession, sf: String): DataFrame = {
    val d = Tables.documents(s, sf)
    val rk = row_number().over(Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
    val quota = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("k"))
    d.withColumn("rk", rk.cast("long"))
      .crossJoin(broadcast(quota))
      .where(col("rk") <= col("k"))
      .select(col("doc_id"), col("lang"), col("rk"))
      .orderBy("lang", "rk")
  }

  /** Token-length distribution per language — the tokenizer-health
    * histogram (wrong-locale splitting, double-encoding, or a
    * whitespace-normalization bug all shift it instantly, before any
    * downstream metric moves): per (lang, token length) counts with a
    * per-lang 1e-3 share, lengths clamped at 15+ into one tail bucket
    * so the frame is bounded at any corpus size. ALL-INTEGER. One
    * token explode + one bounded hash agg + a per-lang window over the
    * ≤16-row strips. */
  def qTextTokenLenDist(s: SparkSession, sf: String): DataFrame = {
    val lenB = least(length(col("token")), lit(15))
    Tables.documents(s, sf)
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("lang"), lenB.as("token_len"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_pm", expr(
        "1000 * n div sum(n) OVER (PARTITION BY lang)"))
      .orderBy("lang", "token_len")
  }

  /** Per-source language-mix drift — the ingest-monitoring readout: the
    * Jensen–Shannon divergence between each source's language
    * distribution and the REST of the corpus (excluding the source
    * itself, so a large source can't mask its own drift), flagging a
    * feed whose mix silently shifted (a crawler that lost a locale, a
    * mislabeled pipeline). The [[Aggregates.qAggJsd]] determinism
    * recipe verbatim, per source: every `ln` argument reduces to a
    * ratio of exact integers so both engines feed `ln` the identical
    * double, 4dp-rounded before the exact DECIMAL(18,4) weighted sums,
    * 0·ln0 = 0, empty-side NULL-pin. The (source × lang) grid is
    * completed before the windows so an absent language's corpus mass
    * is never dropped from the source's complement. Shape: two tiny
    * hash aggs + a ≤|sources|·|langs|-row broadcast grid join. */
  def qTextMixDrift(s: SparkSession, sf: String): DataFrame = {
    val d = Tables.documents(s, sf)
    val langTot = d.groupBy(col("lang")).agg(count(lit(1)).as("cl"))
    val grid = d.select(col("source")).distinct()
      .crossJoin(broadcast(langTot))
    val counts = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("source"))
    grid.join(counts, Seq("source", "lang"), "left")
      .withColumn("ca", coalesce(col("n"), lit(0L)))
      .withColumn("cb", col("cl") - col("ca"))
      .withColumn("na", sum(col("ca")).over(w))
      .withColumn("nb", sum(col("cb")).over(w))
      .withColumn("lpa", when(col("ca") > 0, round(log(
        expr("CAST(2 * ca * nb AS DOUBLE) / CAST(ca * nb + cb * na AS DOUBLE)")), 4))
        .otherwise(lit(0.0)))
      .withColumn("lpb", when(col("cb") > 0, round(log(
        expr("CAST(2 * cb * na AS DOUBLE) / CAST(ca * nb + cb * na AS DOUBLE)")), 4))
        .otherwise(lit(0.0)))
      .groupBy(col("source"), col("na"), col("nb"))
      .agg(count(lit(1)).as("n_langs"),
           sum(col("lpa").cast("decimal(18,4)") * col("ca")).as("s1"),
           sum(col("lpb").cast("decimal(18,4)") * col("cb")).as("s2"))
      .withColumn("jsd", expr(
        """CASE WHEN na > 0 AND nb > 0 THEN
           round(0.5 * (CAST(s1 AS DOUBLE) / CAST(na AS DOUBLE)
                        + CAST(s2 AS DOUBLE) / CAST(nb AS DOUBLE)), 6)
           ELSE NULL END"""))
      .select(col("source"), col("na").as("n_docs"), col("n_langs"), col("jsd"))
      .orderBy("source")
  }

  /** Gopher-style rule-based quality filter: word-count bounds, mean
    * word length band, distinct-token (repetition) ratio — each rule in
    * INTEGER arithmetic (mean word length as `10·Σlen vs bounds·wc`), so
    * the pass/fail sets are exact on both engines with no float rounding
    * anywhere. Σ word lengths falls out of n_chars for single-spaced
    * text: Σlen = n_chars − (wc − 1). Single-pass map-side scan + one
    * aggregate — the at-scale shape for corpus filtering. */
  def qTextGopher(s: SparkSession, sf: String): DataFrame = {
    val (rWc, rMwl, rRep) = gopherRules(col("text"), col("n_chars"))
    def fails(r: Column): Column = sum(when(r, 0L).otherwise(1L))
    Tables.documents(s, sf)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(rWc && rMwl && rRep, 1L).otherwise(0L)).as("n_pass"),
           fails(rWc).as("n_fail_wordcount"),
           fails(rMwl).as("n_fail_wordlen"),
           fails(rRep).as("n_fail_repetition"))
      .orderBy("source")
  }

  /** Document fingerprint: minimum md5 over word 3-shingles (a 1-grid
    * winnowing fingerprint). Groups sharing a fingerprint are near-dup
    * cluster candidates; emitted clusters of ≥ 2. */
  def qTextFingerprint(s: SparkSession, sf: String): DataFrame = {
    // Round 13 (§1.2 per-task work): the array_min(transform(...))
    // formulation ran the md5-per-shingle INTERPRETED through the HOF
    // evaluator, and on the single-file fixture scan it ran in ONE task
    // (the minhash scaladoc's lambda hazard, verbatim). Now: explode the
    // shingle positions, md5 through codegen, and take the per-doc min as
    // a partial+final MIN aggregate — hash-exact because array_min over
    // md5 hex strings and the MIN agg use the same UTF8 binary ordering,
    // and a <3-token doc contributes exactly its md5(text) fallback row
    // (pos = -1). repartition(shuffle.partitions, doc_id): parallelize
    // the explode off the one-file scan, deterministic key per the §2.5
    // retry rule, width from the session conf so the driver's low-core
    // rerun scales down with the core count (the docGrams8 discipline).
    val d = Tables.documents(s, sf)
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
                   col("doc_id"))
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("tk"))
    val fpRows = d
      .select(col("doc_id"), col("text"), col("tk"),
        explode(when(size(col("tk")) >= 3,
            sequence(lit(0), size(col("tk")) - 3))
          .otherwise(array(lit(-1)))).as("pos"))
      .select(col("doc_id"),
        md5(when(col("pos") >= 0,
            concat_ws(" ", slice(col("tk"), col("pos") + 1, lit(3))))
          .otherwise(col("text"))).as("g"))
      .groupBy(col("doc_id")).agg(min(col("g")).as("fp"))
    fpRows.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .where(col("n_docs") >= 2)
      .orderBy("fp")
  }

  /** PII scan + redaction accounting — the scrubbing gate every
    * training-data pipeline runs before text leaves curation. The
    * fixture corpus is synthetic word-salad with zero PII, so the op
    * DECLARES a deterministic injection step (mirrored verbatim in the
    * oracle): docs with doc_id % 4 == 0 gain an email, % 4 == 1 a
    * phone, % 4 == 2 both, % 4 == 3 none — every detect/redact branch
    * is exercised. Patterns are held to the Java-regex ∩ RE2 shared
    * subset (the q_fn_regex discipline). Map-side scan + one hash agg:
    * no join, no extra shuffle — the 100 TB shape. */
  def qTextPii(s: SparkSession, sf: String): DataFrame = {
    val emailPat = "[a-z0-9]+@[a-z]+\\.[a-z]+"
    val phonePat = "555-[0-9]{4}"
    val email = concat(lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com"))
    val phone = concat(lit(" call 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val injected = col("text")
    val txt = when(col("doc_id") % 4 === 0, concat(injected, email))
      .when(col("doc_id") % 4 === 1, concat(injected, phone))
      .when(col("doc_id") % 4 === 2, concat(injected, email, phone))
      .otherwise(injected)
    Tables.documents(s, sf)
      .select(col("lang"), txt.as("text_pii"))
      .select(col("lang"),
        size(regexp_extract_all(col("text_pii"), lit(emailPat), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all(col("text_pii"), lit(phonePat), lit(0))).cast("long").as("n_phone"),
        (length(col("text_pii")) - length(regexp_replace(
          regexp_replace(col("text_pii"), phonePat, "<PHONE>"), emailPat, "<EMAIL>")))
          .cast("long").as("chars_removed"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_email") + col("n_phone") > 0, 1L).otherwise(0L)).as("n_docs_pii"),
        sum(col("n_email")).as("n_emails"),
        sum(col("n_phone")).as("n_phones"),
        sum(col("chars_removed")).as("chars_removed"))
      .orderBy("lang")
  }

  /** Gopher-style repetition signals per doc: the share of bigram
    * occurrences claimed by the single most frequent word bigram
    * ("top-2-gram fraction", flag at ≥18% per Rae et al.'s published
    * thresholds) and the share of bigram occurrences whose bigram
    * repeats at all. ALL-INTEGER outputs: fractions are `1000·x div n`
    * fixed-point and the flag is the cross-multiplied comparison
    * `1000·top ≥ 180·n` — zero float rounding to diverge cross-engine.
    * Shape: map-side bigram fan-out, then (doc, bigram) + (doc) hash
    * aggs — shuffles only (id, bigram-string, count), scale-safe. */
  def qTextRepetition(s: SparkSession, sf: String): DataFrame = {
    val docs = Tables.documents(s, sf)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("tk"))
      .where(size(col("tk")) >= 2)
    val bi = docs.select(col("doc_id"), col("source"),
      explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"))
        .as("bigram"))
    val counts = bi.groupBy(col("doc_id"), col("source"), col("bigram"))
      .agg(count(lit(1)).as("n"))
    val perDoc = counts.groupBy(col("doc_id"), col("source"))
      .agg(max(col("n")).as("top_n"), sum(col("n")).as("n_bi"),
        sum(when(col("n") >= 2, col("n")).otherwise(0L)).as("n_dup"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("top_n") * 1000 >= col("n_bi") * 180, 1L).otherwise(0L))
          .as("n_repetitive"),
        sum(expr("1000 * top_n div n_bi")).as("sum_top_scaled"),
        sum(expr("1000 * n_dup div n_bi")).as("sum_dup_scaled"))
      .orderBy("source")
  }

  /** Heaps'-law vocabulary growth — the Zipf fit's companion
    * diagnostic ("is the vocabulary still growing or has the corpus
    * saturated" — a flat tail means new docs add no new language, a
    * dedup/diversity smell): docs in deterministic doc_id order split
    * into ntile(10) deciles, each token attributed to the decile of
    * its FIRST containing doc (min doc_id — exact, order-independent),
    * cumulative vocabulary per decile. ALL-INTEGER.
    *
    * Scale shape: the decile split was `ntile(10)` over an
    * UNPARTITIONED doc_id window — a single task sorting every doc id.
    * Now: exact global rank via [[Util.rankedByRange]] (one range
    * exchange + partition offsets, no window) and the
    * closed-form [[Util.ntileFromRank]] — bit-identical bucket
    * assignment, no data-sized single-task stage. The one remaining
    * unpartitioned window runs over the 10-row decile frame. */
  def qTextVocabGrowth(s: SparkSession, sf: String): DataFrame = {
    val nDocs = Tables.rowCount(s, sf, "documents")
    val docs = Util.rankedByRange(
        Tables.documents(s, sf).select(col("doc_id")),
        Seq(col("doc_id")), "__r")
      .withColumn("decile",
        Util.ntileFromRank(col("__r"), lit(nDocs), 10).cast("int"))
      .drop("__r")
    val firstDoc = Tables.documents(s, sf)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("token")).agg(min(col("doc_id")).as("doc_id"))
    val newPerDecile = firstDoc.join(docs, "doc_id")
      .groupBy(col("decile")).agg(count(lit(1)).as("new_tokens"))
    val docsPerDecile = docs.groupBy(col("decile")).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docsPerDecile.join(newPerDecile, Seq("decile"), "left")
      .withColumn("new_tokens", coalesce(col("new_tokens"), lit(0L)))
      .withColumn("docs_cum", sum(col("n_docs")).over(w))
      .withColumn("vocab_cum", sum(col("new_tokens")).over(w))
      .select(col("decile"), col("n_docs"), col("new_tokens"),
              col("docs_cum"), col("vocab_cum"))
      .orderBy("decile")
  }

  /** Hapax/type-token vocabulary-richness profile per document — the
    * doc-level lexical-diversity readout ([[qTextVocabGrowth]] is the
    * corpus-level curve): type-token ratio flags template/repetitive
    * docs (low TTR) and the hapax share flags gibberish/OCR noise
    * (high share of once-only tokens). ALL-INTEGER: per-(doc, token)
    * counts → per-doc n_tokens/n_types/n_hapax (exact BIGINTs), 1e4
    * fixed-point ratios via integer `div`. Shape: explode → two hash
    * aggs keyed on doc_id — the token explosion is map-side local and
    * nothing data-sized survives the first agg. */
  def qTextHapax(s: SparkSession, sf: String): DataFrame = {
    docTokenCounts(s, sf)
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
           count(lit(1)).as("n_types"),
           sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr_fp", expr("(10000 * n_types) div n_tokens"))
      .withColumn("hapax_fp", expr("(10000 * n_hapax) div n_types"))
      .orderBy("doc_id")
  }

  /** Per-document token NOVELTY against everything before it — the
    * doc-level marginal-contribution curve (`q_text_vocab_growth` is
    * the corpus decile view): a token "belongs" to its FIRST
    * containing doc (min doc_id — exact, order-independent), novelty
    * = first-seen tokens / distinct tokens per doc in 1e4 fixed
    * point. Near-zero novelty late in the corpus = the crawl has
    * saturated (or the doc is a dup — cross-check with the dedup
    * family). ALL-INTEGER; explode → two hash aggs + one doc-keyed
    * join — nothing data-sized past the (token → first doc) agg. */
  def qTextNovelty(s: SparkSession, sf: String): DataFrame = {
    val toks = Tables.documents(s, sf).repartition(32)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
    val firstDoc = toks.groupBy(col("token"))
      .agg(min(col("doc_id")).as("first_doc"))
    toks.join(firstDoc, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_types"),
           sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
             .as("n_first_seen"))
      .withColumn("novelty_fp", expr("(10000 * n_first_seen) div n_types"))
      .orderBy("doc_id")
  }

  /** Precision / recall / F1 per language from the `q_text_langid`
    * confusion matrix — the model-evaluation readout that turns a
    * confusion matrix into the numbers a dashboard shows. ALL-INTEGER
    * 1e-3 fixed point (`1000·tp div (tp+fp)` etc., `nullif` guards a
    * never-predicted class); built directly ON the langid query so the
    * two can never disagree about the matrix. */
  def qTextLangidPrf(s: SparkSession, sf: String): DataFrame = {
    val cm = qTextLangid(s, sf)
    val rowTot = cm.groupBy(col("lang")).agg(sum(col("n_docs")).as("row_n"))
    val tp = cm.where(col("lang") === col("pred_lang"))
      .select(col("lang"), col("n_docs").as("tp"))
    val colTot = cm.groupBy(col("pred_lang")).agg(sum(col("n_docs")).as("col_n"))
      .withColumnRenamed("pred_lang", "lang")
    rowTot
      .join(tp, Seq("lang"), "left")
      .join(colTot, Seq("lang"), "left")
      .withColumn("tp", coalesce(col("tp"), lit(0L)))
      .withColumn("fp", coalesce(col("col_n"), lit(0L)) - col("tp"))
      .withColumn("fn", col("row_n") - col("tp"))
      .withColumn("prec_pm", expr("1000 * tp div nullif(tp + fp, 0)"))
      .withColumn("rec_pm", expr("1000 * tp div nullif(tp + fn, 0)"))
      .withColumn("f1_pm", expr("2000 * tp div nullif(2 * tp + fp + fn, 0)"))
      .select(col("lang"), col("tp"), col("fp"), col("fn"),
              col("prec_pm"), col("rec_pm"), col("f1_pm"))
      .orderBy("lang")
  }

  /** Corpus-trained BIGRAM LM cross-entropy per doc — the next rung
    * above [[qTextUnigramLm]]'s unigram filter: conditional
    * p(w₂|w₁) = c(w₁w₂)/c(w₁·) catches wrong-order token salads that
    * unigram stats score as fluent (the classic boilerplate-vs-
    * gibberish separator cheap enough to run corpus-wide). MLE needs
    * no smoothing here because scoring and training corpus coincide —
    * every scored bigram has count ≥ 1 by construction. Context
    * counts come FROM the bigram table (Σ over bigrams starting with
    * w₁), so numerator and denominator can never drift. Same
    * determinism discipline as the unigram op: per-bigram `ln` rounded
    * at 4dp BEFORE the exact DECIMAL(18,4) weighted sum (the 1-ulp
    * `ln` rule), one final mirrored double division. Shape: two
    * exploded-bigram hash aggs + a vocab-sized logp join (broadcast at
    * fixture; a data-sized (bigram, long) shuffle join at 100 TB, the
    * qTextTfidf note). */
  /** Session-scoped shared (doc_id, bigram, count) frame — the
    * [[TextDedup]] pair-graph discipline applied to shingle statistics:
    * `q_text_bigram_lm` and `q_text_pmi` both need the corpus bigram
    * counts, and a real pipeline materializes the n-gram stats ONCE and
    * lets every consumer read them: a [[graft.SharedFrames]] entry. The
    * frame is (8 B id, short string, 8 B count) — orders smaller than
    * the exploded token stream that produces it. */
  private def docBigramCounts(s: SparkSession, sf: String): DataFrame =
    SharedFrames.getOrBuild("docBigramCounts", s, sf) {
      val tk = split(lower(col("text")), " ")
      // 1-token guard: sequence(0, -1) counts DOWN in Spark while the
      // oracle's range(0) is empty (the qDedupNgram guard)
      val bigrams = when(size(tk) >= 2,
        transform(sequence(lit(0), size(tk) - 2),
          i => concat_ws(" ", slice(tk, i + 1, lit(2)))))
        .otherwise(array().cast("array<string>"))
      Tables.documents(s, sf)
        .select(col("doc_id"), explode(bigrams).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .serCheckpoint()
    }

  def qTextBigramLm(s: SparkSession, sf: String): DataFrame = {
    val dbc = docBigramCounts(s, sf)
    val bf = dbc.groupBy(col("bg")).agg(sum(col("c")).as("bf"))
    val cf = bf.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("bf")).as("cf"))
    val lp = bf.withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(cf, "w1")
      .select(col("bg"),
        round(log(col("bf").cast("double") / col("cf")), 4).as("logp"))
    dbc.join(lp, "bg")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        (negate(sum(col("logp").cast("decimal(18,4)") * col("c"))).cast("double")
          / sum(col("c"))).as("xent2"))
      .orderBy("doc_id")
  }

  /** Top-20 collocations by pointwise mutual information — the
    * phrase-mining op (PMI separates REAL collocations like proper
    * names from bigrams that co-occur only because both words are
    * common — exactly what a tokenizer-vocab or stop-phrase list needs):
    * PMI = ln(N·c(w₁w₂) / (c(w₁)·c(w₂))) over corpus counts, min
    * count 5 against noise. All counts integer; the single `ln` per
    * surviving bigram is rounded at 4dp as the OUTPUT (no summation —
    * the 1-ulp `ln` risk ends at the rounded value itself), ordering
    * on the rounded value with a full bigram tiebreak. Three hash
    * aggs over exploded tokens/bigrams; the unigram join is
    * vocab-sized. */
  def qTextPmi(s: SparkSession, sf: String): DataFrame = {
    val tk = split(lower(col("text")), " ")
    val d = Tables.documents(s, sf)
    val uni = d.select(explode(tk).as("w")).where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val nTokens = uni.agg(sum(col("cw")).as("nn"))
    // corpus bigram counts fold out of the SHARED (doc, bg, c) frame —
    // Σ over docs of the per-doc count is exactly the raw occurrence
    // count the direct explode produced
    val bg = docBigramCounts(s, sf)
      .groupBy(col("bg")).agg(sum(col("c")).as("cb"))
      .where(col("cb") >= 5)
    bg.withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(uni.select(col("w").as("w1"), col("cw").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("c2")), "w2")
      .crossJoin(broadcast(nTokens))
      .select(col("bg"), col("cb"),
        round(log(col("nn").cast("double") * col("cb")
          / (col("c1") * col("c2"))), 4).as("pmi"))
      .orderBy(desc("pmi"), asc("bg"))
      .limit(20)
  }

  /** Token-budgeted training-mix assembly — the LAST step of a
    * training-data pipeline (the first capstone, `q_pipeline_curate`,
    * ends at splits; real mixes are cut by TOKEN BUDGET per language):
    * Gopher-gate the corpus (shared [[Util.gopherRules]] — one
    * definition, can't drift from `q_text_gopher`), order each lang's
    * survivors by the deterministic hash rank (same basis as
    * `q_sample_reservoir` — shard-reproducible, no RNG), take docs
    * while the running token sum fits the lang's budget (en 20k,
    * others 10k), report per-lang docs/tokens/utilization. ALL-INTEGER
    * accounting. One (lang) window over gated survivors is the only
    * shuffle; the gate rides the scan. */
  def qPipelineMix(s: SparkSession, sf: String): DataFrame = {
    val (r1, r2, r3) = gopherRules(col("text"), col("n_chars"))
    val wc = size(split(lower(col("text")), " "))
    val budget = when(col("lang") === "en", 20000L).otherwise(10000L)
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.documents(s, sf)
      .where(r1 && r2 && r3)
      .select(col("lang"), col("doc_id"), wc.as("wc"))
      .withColumn("cum", sum(col("wc")).over(w))
      .where(col("cum") <= budget)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("wc")).as("tokens_kept"))
      .withColumn("budget", budget)
      .withColumn("util_pm", expr("1000 * tokens_kept div budget"))
      .orderBy("lang")
  }

  /** Zipf-exponent fit — the corpus-statistics diagnostic (natural
    * text has token frequencies ~ rank^(−s) with s ≈ 1; templated /
    * machine-generated corpora deviate): OLS of ln(freq) on ln(rank)
    * over the top-1000 tokens, slope = −s. Ranks come from a total
    * (count desc, token) order; per-token logs are rounded at 4dp
    * BEFORE the decimal-path moment sums (`ln` 1-ulp rule), and the
    * slope/intercept chain mirrors `q_ts_forecast_linreg`.
    *
    * Scale shape (round-13: the round-12 verdict's easiest
    * global-window kill): the top-1000 cut rides
    * `orderBy(desc).limit(1000)` → TakeOrderedAndProject — per-
    * partition 1000-row heaps, NO single-task sort of the vocabulary
    * (which is data-sized at web-corpus scale; the old full-vocab
    * row_number window moved ALL of it into one task). Ranks are then
    * derived ON the 1000-row result: collect_list into one array,
    * array_sort by (−count, token) — order-independent, so the rank
    * can't drift with partition layout — posexplode to (rank−1, row).
    * Everything after the heap cut runs on ≤1000 rows. */
  def qTextZipf(s: SparkSession, sf: String): DataFrame = {
    val counts = docTokenCounts(s, sf)
      .groupBy(col("token")).agg(sum(col("c")).as("c"))
    val top = counts
      .orderBy(col("c").desc, col("token"))
      .limit(1000)
    val ranked = top
      .select(struct((-col("c")).as("nc"), col("token").as("t")).as("st"))
      .agg(collect_list(col("st")).as("a"))
      .select(posexplode(array_sort(col("a"))).as(Seq("p", "s")))
      .select(round(log((col("p") + 1).cast("double")), 4).as("x"),
              round(log((-col("s.nc")).cast("double")), 4).as("y"))
    ranked.agg(
        count(lit(1)).cast("double").as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("y"), 8).as("sxy"),
        dsum(col("x") * col("x"), 8).as("sxx"))
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy"))
          / (col("n") * col("sxx") - col("sx") * col("sx")))
      .withColumn("zipf_s", round(negate(col("slope")), 4))
      .select(col("n").cast("long").as("n_tokens_fit"), col("zipf_s"))
  }

  /** Corpus-trained unigram LM cross-entropy per doc — the classic
    * cheap perplexity filter (docs of only ultra-common tokens score
    * low = dull/duplicated boilerplate; rare-token gibberish scores
    * high; the keep band is the middle). The LM is the corpus itself:
    * p(t) = tf(t)/N. Determinism: `ln` may differ by 1 ulp across
    * libm implementations, so per-TOKEN log-probs are rounded to 4dp
    * BEFORE any accumulation (the q_text_tfidf discipline), then the
    * per-doc sum runs on the exact decimal path weighted by in-doc
    * counts; one mirrored final division. Shuffle profile: two token
    * hash aggs + one token-key join (fixture: vocab broadcasts; at
    * 100 TB vocab is a data-sized side and the join shuffles on the
    * token key — each side carries (token, 8-byte payload) only). */
  def qTextUnigramLm(s: SparkSession, sf: String): DataFrame = {
    val dtf = docTokenCounts(s, sf).select(col("doc_id"), col("token"), col("c"))
    val tf = dtf.groupBy(col("token")).agg(sum(col("c")).as("tf"))
    val nn = tf.agg(sum(col("tf")).as("nn"))
    val logp = tf.crossJoin(broadcast(nn))
      .select(col("token"),
              round(log(col("tf").cast("double") / col("nn")), 4).as("logp"))
    // the log-prob table is VOCABULARY-sized — data-sized at web-corpus
    // scale — so its broadcast is size-gated on the same n_docs × 150
    // upper bound as qTextTfidf/qTextRarity; past the gate the token
    // equi-join runs as a sort-merge join on (token, 8 B payload) rows
    dtf.join(Util.gatedBroadcast(s, logp,
               estRows = Tables.rowCount(s, sf, "documents") * 150), "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
           ((-sum(col("logp").cast(D) * col("c"))).cast("double")
             / sum(col("c"))).as("xent"))
      .orderBy("doc_id")
  }

  // ---- a_text_bpe: real subword tokenization (round-7, verdict ----
  // "missing #5": the ceil(len/4) BPE approximation in q_text_tokens
  // made the token-accounting family's numbers notional)

  /** Deterministic BPE merge table trained on the corpus vocabulary
    * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
    * with Subword Units" — the public algorithm): start from
    * characters, repeatedly merge the most frequent adjacent symbol
    * pair, count ties broken by lexicographic pair order so the table
    * is bit-stable across runs/partitionings. Training runs on the
    * DRIVER over the (token, count) vocabulary — the same
    * constant-size-model discipline as the PQ codebooks: at 100 TB a
    * tokenizer is trained once on a bounded sample (here: the top
    * `maxVocab` tokens by count, a deterministic cut) and shipped as
    * an artifact; it is NEVER re-derived per query, hence the
    * [[graft.SharedFrames]] entry. The vocabulary itself comes from the
    * shared [[docTokenCounts]] materialization. */
  private[graft] def bpeMerges(s: SparkSession, sf: String,
                             nMerges: Int = 100): Seq[(String, String)] = {
    // `graft.bpe.maxVocab` (round-10 verdict #4): the trainer's driver
    // collect is VOCAB-sized — fine at fixture, but a 100 TB corpus
    // vocabulary (Heaps-law ~10⁸ types) would pressure the driver.
    // The cap is the quadraticGuard-style declared envelope, now
    // conf-tunable: the trainer sees the top-maxVocab tokens BY COUNT
    // (deterministic — count desc, token asc, a distributed
    // TakeOrdered, never a full-vocab collect), which is also the
    // published practice (tokenizers train on a frequency-truncated
    // sample). ENCODING still covers the full vocabulary — an
    // out-of-sample token simply decomposes under the trained table.
    // The cap rides the entry's name so a forced-path test (or a
    // genuine retune) in the same session trains its own table instead
    // of reading the stale one.
    val maxVocab = s.conf.getOption("graft.bpe.maxVocab")
      .map(_.toInt).getOrElse(100000)
    SharedFrames.getOrBuild(s"bpeMerges#$maxVocab", s, sf) {
      val vocab = docTokenCounts(s, sf)
        .groupBy(col("token")).agg(sum(col("c")).as("n"))
        .orderBy(desc("n"), asc("token")).limit(maxVocab)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      var words: Array[(Array[String], Long)] =
        vocab.map { case (w, n) => (w.map(_.toString).toArray, n) }
      val merges = Seq.newBuilder[(String, String)]
      var i = 0
      var done = false
      while (i < nMerges && !done) {
        val counts = scala.collection.mutable.HashMap[(String, String), Long]()
        words.foreach { case (syms, n) =>
          var j = 0
          while (j < syms.length - 1) {
            val p = (syms(j), syms(j + 1))
            counts(p) = counts.getOrElse(p, 0L) + n
            j += 1
          }
        }
        if (counts.isEmpty) done = true
        else {
          // max count; ties by lexicographic pair — a total order, so
          // the table never depends on hash-map iteration order
          val best = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
          merges += best
          val joined = best._1 + best._2
          words = words.map { case (syms, n) =>
            val out = Array.newBuilder[String]
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == best._1 && syms(j + 1) == best._2) {
                out += joined; j += 2
              } else { out += syms(j); j += 1 }
            }
            (out.result(), n)
          }
          i += 1
        }
      }
      merges.result()
    }
  }

  /** Greedy BPE encode of one token under a merge-rank map: always
    * apply the LOWEST-rank (earliest-learned) applicable merge first —
    * the standard inference rule, deterministic for any input. */
  private[graft] def bpeEncode(token: String,
                             rank: Map[(String, String), Int]): Int = {
    var syms = token.map(_.toString).toArray
    var changed = true
    while (changed && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var j = 0
      while (j < syms.length - 1) {
        rank.get((syms(j), syms(j + 1))).foreach { r =>
          if (r < bestRank) { bestRank = r; bestAt = j }
        }
        j += 1
      }
      if (bestAt < 0) changed = false
      else {
        val out = Array.newBuilder[String]
        var k2 = 0
        while (k2 < syms.length) {
          if (k2 == bestAt) { out += syms(k2) + syms(k2 + 1); k2 += 2 }
          else { out += syms(k2); k2 += 1 }
        }
        syms = out.result()
      }
    }
    syms.length
  }

  /** a_text_bpe: BPE token accounting per source — the REAL subword
    * count the mix/budget family wants instead of ceil(len/4). The
    * scale architecture is the point: encoding runs once per DISTINCT
    * vocabulary token (a vocab-sized mapPartitions with the broadcast
    * merge-rank map — per-partition model init, the Multimodal codec
    * discipline), then joins back through the shared (doc, token, c)
    * materialization, so per-corpus-token work is ZERO — at 100 TB
    * the encode cost is |vocab|, not |corpus|. Output: per source,
    * whitespace tokens vs BPE pieces and the 1e4 fixed-point
    * pieces-per-token ratio (integer div — engine-exact). No oracle:
    * the merge table is a trained artifact (like the PQ codebooks);
    * PropertySpec bounds the invariants instead (pieces ∈ [1, chars],
    * determinism, monotone compression in merge count). */
  def aTextBpe(s: SparkSession, sf: String): DataFrame = {
    val rank: Map[(String, String), Int] =
      bpeMerges(s, sf).zipWithIndex.toMap
    val bcRank = s.sparkContext.broadcast(rank)
    import s.implicits._
    val frame = docTokenCounts(s, sf)
    val pieces = frame.select(col("token")).distinct().as[String]
      .mapPartitions { it =>
        val r = bcRank.value
        it.map(t => (t, bpeEncode(t, r).toLong))
      }.toDF("token", "n_pieces")
    frame.join(pieces, "token")
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           sum(col("c")).as("n_ws_tokens"),
           sum(col("c") * col("n_pieces")).as("n_bpe_pieces"))
      .withColumn("pieces_per_token_fp",
        expr("(10000 * n_bpe_pieces) div n_ws_tokens"))
      .orderBy("source")
  }

  /** Domain upsampling factors (round 10) — the complement of
    * [[qSampleTemperature]]: where temperature DOWNsamples
    * over-represented domains, a training mix REPEATS under-represented
    * ones (epochs per source — the data-mixture table every LLM
    * training report publishes). Same T = 2 flattened target
    * (share ∝ √n_s, sqrt is IEEE-exact both engines): repeat factor
    * r_s = clamp(1..4, floor(target_share·N/n_s + 0.5)), and the
    * upsampled count is produced by the REAL plan — a map-side
    * `explode(sequence(1, r_s))` per doc feeding a partial hash agg —
    * so the readout exercises exactly the operator a mixture build
    * ships, not side arithmetic. Output is one row per domain at any
    * corpus size; the explode multiplies rows only map-side and the
    * shuffle carries |domains| partials. */
  def qSampleUpsample(s: SparkSession, sf: String): DataFrame = {
    val d = Tables.documents(s, sf).select(col("doc_id"), col("source"))
    val cnt = d.groupBy("source").agg(count(lit(1)).as("n_s"))
      // exact fixed-point weight sum — the qSampleTemperature rule: a
      // double Σsqrt is merge-order-dependent and r_s sits behind a
      // floor that an order-flipped ulp can cross
      .withColumn("w_fp",
        floor(sqrt(col("n_s").cast("double")) * (1L << 30)).cast("long"))
    val stats = cnt.agg(sum(col("w_fp")).as("sum_w_fp"),
                        sum(col("n_s")).as("n_total"))
    val rates = cnt.crossJoin(broadcast(stats))
      .select(col("source"), col("n_s"),
        least(lit(4L), greatest(lit(1L),
          floor(col("w_fp").cast("double") / col("sum_w_fp").cast("double")
            * col("n_total").cast("double") / col("n_s").cast("double")
            + lit(0.5)).cast("long"))).as("repeat_factor"))
    d.join(broadcast(rates), "source")
      .select(col("source"), col("repeat_factor"),
        explode(sequence(lit(1L), col("repeat_factor"))).as("epoch"))
      .groupBy(col("source"))
      .agg(max(col("repeat_factor")).as("repeat_factor"),
           countDistinct(col("epoch")).as("n_epochs"),
           count(lit(1)).as("n_upsampled"))
      .orderBy("source")
  }

  /** CCNet-style LM-quality buckets (round 10; Wenzek et al. 2020,
    * arXiv:1911.00359): rank each language's documents by unigram-LM
    * cross-entropy and cut into head/middle/tail terciles — the
    * published recipe for splitting a crawl by fluency before choosing
    * what to train on. Per-doc xent comes from the SAME chain as
    * `q_text_unigram_lm` (1e-4-rounded log-probs, decimal sum, one
    * double division — engine-exact, already hash-proven), so the
    * NTILE ordering (xent, doc_id tiebreak) is deterministic on both
    * engines. Shape: the shared token-count frame → vocab-gated logp
    * join → one (lang)-partitioned window → a 15-row aggregate; at
    * scale the window partitions by the 5 language strata
    * (range-within-stratum at 100 TB, the qSampleStratified note) and
    * the output is |langs|×3 however big the crawl. */
  def qTextPerplexityBuckets(s: SparkSession, sf: String): DataFrame = {
    val xent = qTextUnigramLm(s, sf)
    val langs = Tables.documents(s, sf).select(col("doc_id"), col("lang"))
    val w = Window.partitionBy("lang").orderBy(col("xent"), col("doc_id"))
    xent.join(langs, "doc_id")
      .withColumn("bucket", ntile(3).over(w))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("n_tokens"),
           min(col("xent")).as("min_xent"),
           max(col("xent")).as("max_xent"))
      .orderBy("lang", "bucket")
  }

  /** Sliding-window document chunking (round 10) — the step between a
    * curated corpus and a training/RAG shard: 64-token chunks on a
    * 48-token stride (16-token overlap). Chunk COUNT is closed-form
    * BEFORE exploding — `1 + (n-17) div 48` for n > 64, else 1, the
    * smallest set of stride-aligned windows that covers the doc with
    * every chunk contributing ≥1 new token — so the explode is sized
    * exactly (no emit-then-filter of fully-contained trailing windows).
    * Emits md5 of each chunk's text, not the text: the verification
    * hash travels, the payload stays put. At-scale shape: pure per-row
    * expression work (split + sequence + posexplode + slice, all
    * codegen'd) — ZERO shuffles before the presentation sort; output
    * rows ≈ |corpus tokens|/48, linear in input. */
  def qTextChunk(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
      .withColumn("n_chunks",
        when(col("n") <= 64L, 1L).otherwise(expr("1 + (n - 17) div 48")))
      .select(col("doc_id"), col("tk"), col("n"),
        posexplode(sequence(lit(0L), (col("n_chunks") - 1L) * 48L, lit(48L)))
          .as(Seq("chunk_id", "start")))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        least(col("n") - col("start"), lit(64L)).as("chunk_tokens"),
        md5(concat_ws(" ",
          slice(col("tk"), (col("start") + 1L).cast("int"), lit(64))))
          .as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")

  /** Per-domain token-budget curation (round 10) — greedy prefix by
    * deterministic hash rank until each source's cumulative token count
    * reaches the budget (800 tokens here; billions in production). The
    * shape every mixture-building pipeline runs: rank INSIDE the domain
    * (md5 order = reproducible "random", no RNG state), running-sum the
    * token counts, cut at the budget. One (source)-partitioned window —
    * hash-partitioned by domain at scale (20 strata here; range-within-
    * stratum at 100 TB, the qSampleStratified note) — and the OUTPUT is
    * budget-bounded (O(domains × budget/avg_tokens) rows) no matter how
    * big the input corpus grows: the knob every 100 TB curation job
    * turns. */
  def qPipelineTokenBudget(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("h"), col("doc_id"))
    Tables.documents(s, sf)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .where(col("cum_tokens") <= 800L)
      .select(col("source"), col("doc_id"), col("rk"), col("n_tokens"),
        col("cum_tokens"))
      .orderBy("source", "rk")
  }

  /** Concat-and-chunk sequence packing (round 12) — the step that turns
    * a curated corpus into fixed-length training sequences (the
    * GPT/Chinchilla recipe: concatenate documents in a deterministic
    * order, split the token stream into SEQ-token blocks; T5-style
    * bin-packing trades this for no-straddle at the cost of padding).
    * Emits the per-doc placement map — global token offset, first/last
    * sequence id, offset inside the first sequence, sequences straddled
    * — the index a packed-shard writer or attention-mask builder needs.
    *
    * The global running sum is one [[Util.rankedByRange]] over doc_id
    * carrying Σ n_tokens as `cum` (an input AQE would read as one
    * partition ranks in one pass; a larger one takes one range
    * exchange and folds per-partition totals into offsets on the
    * driver) — never an unpartitioned window. start_pos = cum −
    * n_tokens, the exclusive prefix; a NULL n_tokens adds nothing, as
    * in the SQL window sum. All arithmetic is integer — engine-exact
    * by construction. */
  def qPipelinePack(s: SparkSession, sf: String): DataFrame = {
    val seqLen = 256L
    val docs = Tables.documents(s, sf)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    Util.rankedByRange(docs, Seq(col("doc_id")), "__rk", Seq("n_tokens" -> "cum"))
      .withColumn("start_pos",
        coalesce(col("cum"), lit(0L)) - coalesce(col("n_tokens"), lit(0L)))
      .withColumn("end_pos", col("start_pos") + col("n_tokens") - 1L)
      .select(col("doc_id"), col("n_tokens"), col("start_pos"),
        expr(s"start_pos div $seqLen").as("seq_first"),
        expr(s"end_pos div $seqLen").as("seq_last"),
        (col("start_pos") % seqLen).as("offset_in_seq"),
        (expr(s"end_pos div $seqLen") - expr(s"start_pos div $seqLen") + 1L)
          .as("n_seqs"))
      .orderBy("doc_id")
  }

  /** Temperature-flattened domain mix (round 10) — the multilingual /
    * multi-domain sampling rule (T = 2): target share ∝ n_s^(1/T), so
    * over-represented domains are downsampled toward the flattened
    * mixture while small domains keep (nearly) everything. T = 2 means
    * the weight is sqrt(n_s) — IEEE-exact on both engines (no pow).
    * Acceptance per domain a_s = min(1, (w_s/Σw)·(N/2)/n_s) with the
    * weights on the 2^-30 fixed-point grid (floor(√n_s·2³⁰) — exact per
    * term, and the INTEGER weight sum is associative, so Σw can never
    * drift with merge order the way a double Σsqrt can); membership is
    * the doc's md5-derived uniform u = first-6-hex/16^6 < a_s —
    * deterministic, shard-stable, engine-exact. Shape:
    * one per-domain count agg (catalog stats in production) folded to a
    * domain-count acceptance-rate frame broadcast back as a map-side
    * filter — one stats pass + one membership scan, and nothing
    * data-sized shuffles. */
  def qSampleTemperature(s: SparkSession, sf: String): DataFrame = {
    val d = Tables.documents(s, sf)
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
          .cast("long").cast("double") / lit(16777216.0)).as("u"))
    val cnt = d.groupBy("source").agg(count(lit(1)).as("n_s"))
      // per-source weight on the 2^-30 FIXED-POINT grid (the
      // qEmbedCentroid trick): sqrt is IEEE-exact per term, but a
      // DOUBLE sum of the weights is merge-order-dependent — 1 ulp of
      // drift in sum_w shifts a_s by ~1e-16 and a doc whose uniform u
      // straddles it flips membership across engines/partitionings.
      // Integer weight sums are associative, so sum_w is EXACT and the
      // downstream a_s chain runs on bit-fixed inputs.
      .withColumn("w_fp",
        floor(sqrt(col("n_s").cast("double")) * (1L << 30)).cast("long"))
    val stats = cnt
      .agg(sum(col("w_fp")).as("sum_w_fp"), sum(col("n_s")).as("n_total"))
    val rates = cnt
      .crossJoin(broadcast(stats))
      .select(col("source"), col("n_s"),
        least(lit(1.0),
          col("w_fp").cast("double") / col("sum_w_fp").cast("double")
            * (col("n_total").cast("double") / lit(2.0))
            / col("n_s").cast("double")).as("a_s"))
    d.join(broadcast(rates), "source")
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_total"),
           sum(when(col("u") < col("a_s"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("rate_scaled", expr("1000 * n_kept div n_total"))
      .orderBy("source")
  }

  /** DSIR-style importance selection (round 11) — Data Selection via
    * Importance Resampling (Xie et al. 2023, arXiv:2302.03169), the
    * published hashed-n-gram recipe for steering a raw web pool toward
    * a curated target distribution. Target = the declared curated
    * shards (`src0..src3`); pool = everything else. Features are 256
    * hashed unigram buckets (first two hex chars of md5(token) — the
    * engine-portable [[graft.ops.Util.md5Bucket]] discipline); bucket
    * log-likelihood ratios use add-one smoothing, and each ratio is
    * snapped to an INTEGER ten-thousandth (round(ln(·)·10⁴) — one
    * double ln per BUCKET, 256 total, then every per-doc accumulation
    * is pure int64 Σ c·lr_fp: associative, merge-order-free,
    * engine-exact; the paper's Gumbel resampling step is replaced by
    * the deterministic top-⌊n/5⌋ cut, ties broken by doc_id, so the
    * selection is shard-stable and oracle-checkable). The ln operands
    * are cast to double BEFORE the cross-multiply so the ratio never
    * overflows int64 at web-corpus token counts.
    *
    * Scale shape: the corpus explodes once through the shared
    * [[docTokenCounts]] materialization; bucket aggregation is a
    * map-side-partial hash agg down to ≤256·docs rows, the ratio frame
    * is a CONSTANT 256 rows (broadcast unconditionally — model state,
    * like the PQ codebooks), scoring is one broadcast-join + hash agg,
    * and the top-K cut is a distributed TakeOrdered. Nothing
    * data-sized crosses the wire except (doc, bucket, count) ints. */
  def qSampleDsir(s: SparkSession, sf: String): DataFrame = {
    val curated = Seq("src0", "src1", "src2", "src3")
    val bucketed = docTokenCounts(s, sf)
      .withColumn("bkt", substring(md5(col("token")), 1, 2))
      .groupBy(col("doc_id"), col("source"), col("bkt"))
      .agg(sum(col("c")).as("c"))
    val pool = bucketed.where(!col("source").isInCollection(curated))
    val tgt = bucketed.where(col("source").isInCollection(curated))
      .groupBy(col("bkt")).agg(sum(col("c")).as("ct"))
    val raw = pool.groupBy(col("bkt")).agg(sum(col("c")).as("cr"))
    val nt = tgt.agg(sum(col("ct")).as("nt"))
    val nr = raw.agg(sum(col("cr")).as("nr"))
    // ratio frame: every POOL bucket (target-only buckets can never be
    // scored, so the left join loses nothing); +1/+256 is add-one
    // smoothing over the 256-bucket feature space
    val lr = raw.join(tgt, Seq("bkt"), "left_outer")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .select(col("bkt"),
        round(log((col("ct") + 1L).cast("double") * (col("nr") + 256L).cast("double")
            / ((col("cr") + 1L).cast("double") * (col("nt") + 256L).cast("double")))
          * 10000, 0).cast("long").as("lr_fp"))
    val scored = pool.join(broadcast(lr), "bkt")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
           sum(col("c") * col("lr_fp")).as("score_fp"))
    // K = ⌊scored docs / 5⌋ — counted off the aggregated (docs-sized)
    // frame, a constant driver value like the rowCount cache reads
    val k = (scored.count() / 5L).toInt
    scored.orderBy(desc("score_fp"), asc("doc_id")).limit(k)
      .select(col("doc_id"), col("n_tokens"), col("score_fp"))
      .orderBy("doc_id")
  }
}
