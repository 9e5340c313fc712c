package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SharedFrames, Tables}
import Util._

/** SURVEY.md §2.11 — text dedup / analysis for LLM-pipeline corpora.
  *
  * Scale notes (100 TB): exact dedup is a hash group-by (one shuffle of
  * (hash, id) pairs — bytes per doc, not the doc). The exact Jaccard
  * join is blocked on (lang, length-band) via bucket-and-replicate so it
  * is an equi-join, not an all-pairs product; the unblocked at-scale
  * path is the MinHash-LSH banding join (`a_dedup_minhash`), which
  * shuffles only (band-key, id) pairs and computes exact Jaccard on the
  * candidate set alone.
  */
object TextDedup {

  /** Normalized text: lowercase, trimmed, whitespace collapsed. */
  private def norm: Column =
    lower(regexp_replace(trim(col("text")), "\\s+", " "))

  /** Exact dedup on normalized-text hash; keep the smallest doc_id. */
  def qDedupExact(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      .groupBy(md5(norm).as("norm_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("keep_id")

  /** Dedup economics profile — the "how much smaller does the corpus
    * get" readout a curation run reports before committing: per
    * exact-duplicate group size, how many groups, how many docs, and
    * the chars RECLAIMED by keeping only the min-doc_id copy (the
    * [[qDedupExact]] keeper rule — one shared definition, so the
    * profile can never disagree with the dedup op it describes).
    * ALL-INTEGER; two hash aggs, the second over ≤ max-group-size
    * rows. At 100 TB this is the job that justifies the dedup pass:
    * group sizes × bytes, nothing but (hash, 2 longs) shuffles. */
  def qDedupProfile(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      .groupBy(md5(norm).as("norm_hash"))
      .agg(count(lit(1)).as("n_copies"), sum(col("n_chars")).as("tot_chars"),
           min_by(col("n_chars"), col("doc_id")).as("keep_chars"))
      .groupBy(col("n_copies"))
      .agg(count(lit(1)).as("n_groups"),
           sum(col("tot_chars")).as("sum_chars"),
           sum(col("tot_chars") - col("keep_chars")).as("chars_saved"))
      .orderBy("n_copies")

  /** Line-level dedup readout (round 11) — the C4/CCNet cleaning step
    * the document-level family doesn't cover: boilerplate (nav bars,
    * cookie banners, license headers) repeats at LINE granularity
    * across otherwise-distinct documents, and the published recipe
    * (C4: "discard every line that occurs more than once in the
    * corpus") needs exactly this readout first — per document, how
    * many of its lines are corpus-duplicated. Fixture documents are
    * single-line word streams, so "lines" are the deterministic
    * non-overlapping 8-token segments (the [[TextAnalysis.qTextChunk]]
    * slicing discipline, stride = width = 8; a real corpus splits on
    * newlines — same plan shape). Per doc: line count, lines whose
    * md5 occurs >1× corpus-wide (within-doc repeats count, as in C4),
    * and the 1e4 fixed-point dup ratio (integer div — engine-exact).
    *
    * Scale shape: one explode to (line_hash, doc_id) — 16-byte hashes,
    * never text — a map-side-partial hash agg for the global counts,
    * one hash-keyed join back, one per-doc agg. Everything shuffles on
    * the line hash; at 100 TB this is the standard two-pass
    * diffraction every line-dedup job runs, and the output stays
    * O(docs). */
  def qTextLineDedup(s: SparkSession, sf: String): DataFrame = {
    val lines = Tables.documents(s, sf)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
      .select(col("doc_id"), col("tk"), col("n"),
        posexplode(sequence(lit(0L), (expr("(n + 7) div 8") - 1L) * 8L, lit(8L)))
          .as(Seq("line_id", "start")))
      .select(col("doc_id"),
        md5(concat_ws(" ",
          slice(col("tk"), (col("start") + 1L).cast("int"), lit(8)))).as("lh"))
    val cnt = lines.groupBy(col("lh")).agg(count(lit(1)).as("cnt"))
    lines.join(cnt, "lh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
           sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_lines"))
      .withColumn("dup_ratio_fp", expr("n_dup_lines * 10000 div n_lines"))
      .orderBy("doc_id")
  }

  /** Cross-source shingle-overlap matrix (round 11) — the
    * corpus-versus-corpus readout every multi-dump curation run needs
    * before mixing sources: how much of shard A's 8-gram mass already
    * exists in shard B (the published CommonCrawl-snapshot-overlap /
    * cross-dump dedup measurement — the doc-level family answers
    * "which documents", this answers "which SOURCES are worth
    * deduplicating against each other"). Per unordered source pair
    * with any overlap: common distinct 8-grams, each side's distinct
    * gram count, 1e4 fixed-point Jaccard and A-containment (integer
    * div — engine-exact).
    *
    * Scale shape: the corpus shingles ONCE through the shared
    * [[docGrams8]] materialization; (source, gram-md5) distinct is a
    * map-side-partial hash agg (hashes shuffle, text never); the gram
    * self-join fans out to at most sources² rows PER GRAM — bounded by
    * the source-list size, never the corpus — and the output is
    * O(sources²). The per-source size frame is sources-sized and
    * broadcasts. */
  def qTextSourceOverlap(s: SparkSession, sf: String): DataFrame = {
    val src = Tables.documents(s, sf).select(col("doc_id"), col("source"))
    val sg = docGrams8(s, sf)
      .join(Util.gatedBroadcast(s, src,
              estRows = Tables.rowCount(s, sf, "documents")), "doc_id")
      .select(col("source"), col("gram")).distinct()
    val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    val common = sg.select(col("source").as("src_a"), col("gram"))
      .join(sg.select(col("source").as("src_b"), col("gram")), "gram")
      .where(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n_grams").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n_grams").as("n_b"))), "src_b")
      .withColumn("jaccard_fp", expr("10000 * n_common div (n_a + n_b - n_common)"))
      .withColumn("contain_a_fp", expr("10000 * n_common div n_a"))
      .select(col("src_a"), col("src_b"), col("n_common"), col("n_a"),
              col("n_b"), col("jaccard_fp"), col("contain_a_fp"))
      .orderBy("src_a", "src_b")
  }

  /** Exact near-dup pairs: token-set Jaccard ≥ 0.6 between docs of the
    * same lang with |n_chars| within 25. The length band is implemented
    * as bucket-and-replicate (equi-join on (lang, bucket)), identical in
    * result to the oracle's theta predicate. */
  def qDedupJaccard(s: SparkSession, sf: String): DataFrame =
    nearDupPairGraph(s, sf).orderBy("a_id", "b_id")

  /** Session-scoped materialization of THE τ=0.6 near-dup pair graph
    * (token-set Jaccard, same-lang, |Δchars| ≤ 25) that the entire
    * graph/dedup diagnostic family reads. The round-5 plan audit found
    * eleven queries each independently re-deriving this identical frame
    * from raw text — a third of the whole bench. A real 100 TB pipeline
    * derives the pair graph ONCE, checkpoints it, and every downstream
    * diagnostic (clusters, degree distribution, centrality, link
    * prediction, triangles, ...) reads the materialization; this cache
    * is that architecture as a [[graft.SharedFrames]] entry: the first
    * caller pays the banded derivation and a reliable checkpoint pins
    * it (so the iterative callers' loop plans stay constant-size). The
    * payload is the pair list itself — O(near-dup pairs) fixed-width
    * rows, never the corpus. The frame is
    * unsorted: a presentation sort here would range-sample, and so
    * re-run, the co-occurrence aggregate and the expansion joins before
    * the checkpoint. `q_dedup_jaccard` sorts its own output; the graph
    * family, `q_dedup_cluster` and `q_pipeline_curate` need no order.
    * The row count sits beside the frame: it is observed on the
    * checkpoint job that builds it, so no consumer runs a count job. */
  private def pairGraph(s: SparkSession, sf: String): (DataFrame, Long) =
    SharedFrames.getOrBuild("pairGraph", s, sf) {
      val (members, reps) = tokenSetFrames(s, sf)
      val rows = Observation()
      val g = bandedJaccardPairs(members, reps, 0.6)
        .observe(rows, count(lit(1)).as("n"))
        .serCheckpoint()
      (g, rows.get("n").asInstanceOf[Long])
    }
  private[graft] def nearDupPairGraph(s: SparkSession, sf: String): DataFrame = pairGraph(s, sf)._1
  private[graft] def nearDupPairCount(s: SparkSession, sf: String): Long = pairGraph(s, sf)._2

  /** Incremental ingest dedup — the PRODUCTION dedup shape: a new
    * batch is checked against the existing corpus, never the corpus
    * against itself (nobody re-deduplicates 100 TB per ingest). The
    * incoming delta is DECLARED as md5 bucket 'f' (1/16 of docs, the
    * [[Util.md5Bucket]] membership rule — a pure function of doc_id,
    * evaluable on either side of any join with no extra shuffle); the
    * rest is the standing corpus. Per incoming doc, the disposition:
    * `exact_dup` (its [[norm]]-hash — the qDedupExact rule verbatim,
    * one shared definition — exists in the corpus), else `near_dup`
    * (the materialized τ=0.6 pair graph contains an incoming↔corpus
    * edge for it: the standing near-dup INDEX is exactly what an
    * incremental pipeline maintains, and this op reads it instead of
    * re-deriving pairs), else `novel`. Shapes: one (hash)-key semi
    * join + one pass over the O(pairs) materialization — the delta's
    * cost, not the corpus'. */
  /** Bloom-filter contamination screen — the map-side 100 TB form of
    * [[qTextContamination]]'s exact join: the TRAIN split's distinct
    * 8-gram keys fold into ONE mergeable Bloom buffer
    * (`graft_bloom_agg`, a partial+final TypedImperativeAggregate),
    * which broadcasts as a single binary cell; every TEST gram then
    * probes it with the codegen'd `graft_bloom_contains` — NO join, no
    * shuffle of gram postings, the probe rides the scan. A Bloom has
    * no false negatives, so the screen's per-doc flagged count UPPER-
    * BOUNDS the exact shared-gram count: it routes suspicious docs to
    * the exact checker and can never wave a contaminated doc past it —
    * exactly how a decontamination pass screens 100 TB before paying
    * the exact-join cost on the survivors. PropertySpec pins both
    * directions (no false negatives; FP mass bounded by the sized-for
    * rate). */
  /** Session-scoped shared (doc_id, md5-bucket, 8-gram-md5) shingle
    * frame — the third shared materialization (pair graph, bigram
    * frame, now the contamination shingles): `q_text_contamination`
    * and `a_dedup_bloom_contam` are the exact and screening halves of
    * ONE decontamination pass and read identical shingles; a real
    * pipeline shingles the corpus once. A [[graft.SharedFrames]] entry
    * of fixed-width (id, 1 char, 32-char hash) rows.
    *
    * The gram frame's BUILD plan, pre-checkpoint (public for PlanDump:
    * the checkpoint executes eagerly, so consumers' explains only show
    * a scan of the pinned RDD — this is the plan that actually runs).
    *
    * Shingles are a PER-ROW computation: token i..i+7 of one doc's own
    * array. The round-12 shape reached them through
    * posexplode → Exchange(doc_id) → Sort → WindowExec(collect_list),
    * i.e. it shuffled and sorted every TOKEN row (~8× the gram bytes as
    * (id, bucket, pos, word) rows) to reassemble arrays each row
    * already had. Round 13: explode the gram POSITIONS and slice the
    * token array directly — zero exchange, zero sort, one
    * WholeStageCodegen span from scan to checkpoint write. The
    * repartition(p, doc_id) replaces the window exchange's only useful
    * side effect (the fixture table is one parquet file → one scan
    * task): it shuffles DOC rows (n_docs, pre-explosion) instead of
    * token rows, deterministic on doc_id per the §2.5 retry rule, and
    * sized from spark.sql.shuffle.partitions — the SAME width the
    * window exchange it replaces had, so the driver's low-core bench
    * rerun sees the same scaling posture as before.
    * `pos` rides along (round 12, +4 B/row on the checkpoint): the
    * exact-substring span extraction needs POSITIONAL grams; every
    * other consumer projects it away before its distinct/agg. */
  def docGrams8Plan(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      .repartition(shufflePartitions(s), col("doc_id"))
      .withColumn("b", Util.md5Bucket(col("doc_id")))
      .withColumn("tk", split(col("text"), " "))
      .where(size(col("tk")) >= 8)
      .select(col("doc_id"), col("b"), col("tk"),
              explode(sequence(lit(0), size(col("tk")) - 8)).as("pos"))
      .select(col("doc_id"), col("b"), col("pos"),
              md5(concat_ws(" ",
                slice(col("tk"), col("pos") + 1, lit(8)))).as("gram"))
  private[graft] def docGrams8(s: SparkSession, sf: String): DataFrame =
    SharedFrames.getOrBuild("docGrams8", s, sf)(docGrams8Plan(s, sf).serCheckpoint())

  /** Session-scoped DISTINCT (doc_id, gram) postings over [[docGrams8]]
    * — the fourth shared materialization (round 13): `q_text_dup_spans`
    * (2 consumers) and `q_text_containment` (3 consumers) previously
    * each rebuilt this exact frame privately through their own
    * posexplode→window shingle pass + distinct + checkpoint. One corpus
    * shingling, one distinct, one checkpoint; ~32 grams/doc gate proxy
    * (the same estRows both ops declared). */
  private[graft] def docGramsDistinct(s: SparkSession, sf: String): DataFrame =
    SharedFrames.getOrBuild("docGramsDistinct", s, sf)(
      docGrams8(s, sf).select(col("doc_id"), col("gram")).distinct()
        .serCheckpoint(32L * Tables.rowCount(s, sf, "documents")))

  /** Exact-substring duplicate spans (round 12 — Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499: the ExactSubstr half of the published dedup
    * pipeline, which removes every ≥50-token substring occurring twice
    * in the corpus via a suffix array). A monolithic suffix array
    * doesn't distribute; the DECLARED distributed equivalent rides the
    * shared [[docGrams8]] shingles: a duplicated substring of L ≥ 50
    * tokens is EXACTLY a maximal run of L−7 consecutive
    * corpus-duplicated 8-grams, so spans = gaps-and-islands over the
    * duplicated gram positions. Direction of approximation is
    * declared: every true ≥50-token duplicate substring IS reported
    * (all its 8-grams are duplicated — no false negatives); a run
    * stitched from DIFFERENT sources' matches can over-extend a span
    * (the same over-merge ExactSubstr's own byte-level dedup accepts).
    * Within-doc repeats count as duplication, as in the paper.
    *
    * Scale shape: positional grams shuffle as (16 B hash, 2 ints);
    * gram counts are a vocabulary-sized hash agg whose join back is
    * size-gated (broadcast below the gate, sort-merge on the gram hash
    * past it — the tfidf/dup_spans discipline); islands are one
    * (doc_id) window; output is O(spans). ALL-INTEGER. */
  def qDedupSubstring(s: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val minTokens = 50
    val grams = docGrams8(s, sf).select(col("doc_id"), col("pos"), col("gram"))
    val cnt = grams.groupBy(col("gram")).agg(count(lit(1)).as("c"))
    val dup = grams
      .join(Util.gatedBroadcast(s, cnt,
              estRows = Tables.rowCount(s, sf, "documents") * 150), "gram")
      .where(col("c") > 1)
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dup.withColumn("isl", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"), max(col("pos")).as("span_end"))
      .select(col("doc_id"), col("span_start"),
              (col("span_end") - col("span_start") + 8).as("span_tokens"))
      .where(col("span_tokens") >= minTokens)
      .orderBy("doc_id", "span_start")
  }

  def aDedupBloomContam(s: SparkSession, sf: String): DataFrame = {
    import graft.functions.BloomFilter
    val grams = docGrams8(s, sf)
    val bloom = grams.where(col("b") <= "b")
      .select(xxhash64(col("gram")).as("k")).distinct()
      .agg(BloomFilter.bloomAgg(col("k"), 1 << 20, 5).as("bf"))
    // round 13 (§2.3 shuffle fewer bytes): the probe key IS
    // xxhash64(gram) — distinct over the 8-byte hash instead of the
    // 32-char md5 hex, 4× narrower distinct shuffle; a within-doc
    // 64-bit collision could only merge two test grams (screen counts
    // stay an upper bound on the exact join, the declared direction)
    grams.where(col("b") > "d")
      .select(col("doc_id"), xxhash64(col("gram")).as("k")).distinct()
      .crossJoin(broadcast(bloom))
      .withColumn("hit", BloomFilter.bloomContains(col("bf"), col("k")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_test_grams"),
           sum(when(col("hit"), 1L).otherwise(0L)).as("n_flagged"))
      .where(col("n_flagged") > 0)
      .orderBy("doc_id")
  }

  /** Shard-local vs global dedup audit — the planning readout for THE
    * 100 TB dedup question: "can each shard dedup independently, or do
    * duplicates span shards?" Per exact-dup group (the [[norm]]-hash
    * rule), how many md5 shards its copies land in; the summary then
    * quantifies exactly what shard-local dedup leaves behind: a group
    * spanning k shards keeps k survivors instead of 1, so
    * `dups_leaked` = Σ (k−1) over cross-shard groups — the cost of
    * avoiding the global shuffle, measured before committing to
    * either architecture. ALL-INTEGER; two hash aggs (the second over
    * group rows), 1-row output. */
  def qDedupShardAudit(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      .groupBy(md5(norm).as("h"))
      .agg(count(lit(1)).as("n_copies"),
           countDistinct(Util.md5Bucket(col("doc_id"))).as("n_shards"))
      .agg(count(lit(1)).as("n_groups"),
           sum(when(col("n_shards") === 1, 1L).otherwise(0L))
             .as("n_single_shard_groups"),
           sum(when(col("n_shards") > 1, 1L).otherwise(0L))
             .as("n_cross_shard_groups"),
           sum(col("n_copies") - 1).as("dups_removed_global"),
           sum(col("n_copies") - col("n_shards"))
             .as("dups_removed_shard_local"),
           sum(when(col("n_shards") > 1, col("n_shards") - 1).otherwise(0L))
             .as("dups_leaked"))

  def qDedupIncremental(s: SparkSession, sf: String): DataFrame = {
    val d = Tables.documents(s, sf)
    val isInc = (c: org.apache.spark.sql.Column) => Util.md5Bucket(c) === "f"
    val inc = d.where(isInc(col("doc_id")))
      .select(col("doc_id"), col("lang"), md5(norm).as("h"))
    val corpusHashes = d.where(!isInc(col("doc_id")))
      .select(md5(norm).as("h")).distinct()
    val exactIds = inc.join(corpusHashes, Seq("h"), "left_semi")
      .select(col("doc_id")).withColumn("is_exact", lit(true))
    val pairs = nearDupPairGraph(s, sf)
    val nearIds = pairs
      .select(explode(array(
        when(isInc(col("a_id")) && !isInc(col("b_id")), col("a_id")),
        when(isInc(col("b_id")) && !isInc(col("a_id")), col("b_id"))))
        .as("doc_id"))
      .where(col("doc_id").isNotNull)
      .distinct().withColumn("is_near", lit(true))
    inc.select(col("doc_id"), col("lang"))
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .withColumn("disposition",
        when(col("is_exact"), "exact_dup")
          .when(col("is_near"), "near_dup")
          .otherwise("novel"))
      .select(col("doc_id"), col("lang"), col("disposition"))
      .orderBy("doc_id")
  }

  /** Canonical per-document feature-SET frames for the w-gram Jaccard
    * family: (members, reps).
    *
    * Jaccard / MinHash / SimHash are functions of the feature SETS
    * alone, so docs with an identical set (the fixture corpus averages
    * ~10 exact/shuffled dups per set; real crawl corpora behave the
    * same) need any similarity computed only once — this builder is
    * the shared CANONICALIZE phase: per doc, the distinct feature set
    * `ft` (array<string>, `array_distinct` of `features`), its size
    * `n_ft`, and a 64-bit set id = xxhash64 over (lang, sorted ft)
    * ([[gramSetDocs]]). Every document keeps its row: for a doc with
    * fewer than w tokens the caller's `features` yields an empty set
    * (`n_ft` = 0), which can never pair under τ > 0.
    * Features stay strings here; they are hashed to longs after the
    * posting explode.
    *
    * lang folds into the set identity AND stays a posting join key:
    * the corpus' common tokens ("the", "a", ...) appear in nearly
    * every set, and an unblocked posting group over them pairs ALL
    * representatives — lang-blocking cuts those groups 5x (25x fewer
    * joined rows).
    *
    * members = (setid, doc_id, lang, n_chars), one row per doc; reps =
    * one row per distinct set ([[gramSetReps]]) carrying the set's
    * n_chars interval: a set pair whose member char ranges sit > 25
    * apart cannot produce any doc pair passing |dChars| <= 25 — exact
    * interval-distance pruning at the rep level. */
  private def gramSetFrames(s: SparkSession, docs: DataFrame,
                            features: Column): (DataFrame, DataFrame) = {
    val d = gramSetDocs(s, docs, features)
    (d.select(col("setid"), col("doc_id"), col("lang"), col("n_chars")),
     gramSetReps(d))
  }

  /** The canonicalized per-DOC frame (setid, doc_id, lang, n_chars,
    * ft, n_ft) behind [[gramSetFrames]] — exposed separately so the
    * cached token-set variant can checkpoint the extraction ONCE and
    * derive both members and reps from the pinned blocks.
    *
    * The array-expression build (array_distinct + string array_sort
    * for the set id) was A/B-measured this round against a row-level
    * rewrite (codegen explode(sequence)+slice+xxhash64 gram rows +
    * per-doc collect_set of 8-byte hashes): the row path LOST —
    * q_dedup_ngram 2.30 → 4.80 s, q_dedup_cluster 3.68 → 4.53 s, same
    * box, min-of-2 — because the ObjectHashAggregate behind
    * collect_set streams every token row through an object hash table
    * while the array expressions, interpreted or not, do one batch op
    * per doc. The measured-rejected branch is documented in
    * OPTIMIZATION_r14.md; features therefore stay STRING sets here and
    * are hashed to longs after the posting explode (top-level codegen
    * xxhash64), exactly the round-12/13 shape. */
  private def gramSetDocs(s: SparkSession, docs: DataFrame,
                          features: Column): DataFrame = {
    val p = shufflePartitions(s)
    // repartition(p) first: the fixture table is ONE parquet file, so
    // extraction would otherwise run as a single task (~8 s measured).
    // The \u0001 delimiter: cannot occur in whitespace-split features,
    // so the canonical string is unambiguous.
    docs.repartition(p)
      .select(col("doc_id"), col("lang"), col("n_chars"),
              array_distinct(features).as("ft"))
      .withColumn("n_ft", size(col("ft")))
      // lang folds into the set identity AND stays a posting join key:
      // the corpus' common tokens ("the", "a", ...) appear in nearly
      // every set, and an unblocked posting group over them pairs ALL
      // representatives — lang-blocking cuts those groups 5x (25x fewer
      // joined rows).
      .withColumn("setid",
        xxhash64(concat_ws("\u0001", col("lang"), array_sort(col("ft")))))
      // one explicit exchange AFTER extraction: the frame feeds both
      // the membership side and the reps/postings side, and without a
      // shared shuffle boundary each side re-evaluates the
      // (allocation-heavy) feature build — ReuseExchange computes this
      // node once.
      .repartition(p)
  }

  /** The session's `spark.sql.shuffle.partitions`: the width of the
    * near-dup pipeline's explicit exchanges. */
  private def shufflePartitions(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions").toInt

  /** One row per DISTINCT set over a canonical doc frame. */
  private def gramSetReps(d: DataFrame): DataFrame =
    d.groupBy(col("setid"))
      .agg(first(col("lang")).as("lang"), first(col("ft")).as("ft"),
           first(col("n_ft")).as("n_ft"),
           min(col("n_chars")).as("c_lo"), max(col("n_chars")).as("c_hi"))

  /** Session-scoped TOKEN-set (w=1) canonical frames — the fifth shared
    * materialization (pair graph, gram8, postings, bigram frame): the
    * exact-Jaccard pair graph, `a_dedup_minhash`, and `a_dedup_simhash`
    * all canonicalize documents by distinct-token set, and a real
    * pipeline canonicalizes once. First caller pays the build; members
    * (the doc→set map) and reps (one row per distinct set, with the
    * hashed feature array) are both checkpointed, in one
    * [[graft.SharedFrames]] entry. */
  private[ops] def tokenSetFrames(s: SparkSession, sf: String): (DataFrame, DataFrame) =
    SharedFrames.getOrBuild("tokenSetFrames", s, sf) {
      val nDocs = Tables.rowCount(s, sf, "documents")
      // checkpoint the extraction ONCE; members is a projection of the
      // pinned blocks, reps one cheap agg over them (its own checkpoint
      // so the ~|sets| array frame isn't re-aggregated per consumer)
      val tokens = array_distinct(split(col("text"), " "))
      val d = gramSetDocs(s, Tables.documents(s, sf), tokens).serCheckpoint(nDocs)
      (d.select(col("setid"), col("doc_id"), col("lang"), col("n_chars")),
       gramSetReps(d).serCheckpoint(nDocs))
    }

  /** Shared exact-Jaccard pair join over canonical set frames
    * ([[gramSetFrames]]): pair the distinct sets, then expand.
    *
    *  2. PAIR the distinct sets via an inverted-index join: explode each
    *     representative's features into (gram, setid, |ft|) postings,
    *     self-join on gram, COUNT co-occurrences per (sa, sb) with a
    *     partial+final hash aggregate — the count IS |A∩B|, so Jaccard
    *     follows from |A∪B| = |A|+|B|−|A∩B| with no per-pair array
    *     work. The exact size-ratio prune (J ≥ τ ⟹ min|ft| ≥ τ·max|ft|)
    *     runs in integer arithmetic at τ−1e-4: the output rounds
    *     Jaccard to 4 decimals, so a pair can legitimately round UP
    *     across the threshold, and the 1e-4 slack strictly covers that
    *     window — no float boundary can drop a pair the oracle keeps.
    *     Identical sets join as the diagonal (J = 1.0 when non-empty)
    *     without touching the index. The dup-heavy quadratic collapses
    *     here: pair count scales with DISTINCT sets squared, not docs
    *     squared (~100× fewer pairs on this corpus).
    *  3. EXPAND set pairs back to doc pairs through the membership
    *     table, applying the per-doc blocking predicates (same lang,
    *     |Δchars| ≤ 25 — members of one set can differ in both) and
    *     canonical (a_id < b_id) ordering. Output-bound: every surviving
    *     row is (almost) an output row.
    *
    * Alternatives measured worse on the dup-heavy fixture: feature
    * arrays riding a blocked doc×doc join concentrate in a few (lang,
    * length-band) cells → one straggler task (~1.3 of 32 cores busy);
    * id-only candidates + per-candidate array re-join add two
    * pair-level shuffles carrying arrays (12× worse); and the doc-level
    * (un-deduped) posting join streams m² co-occurrence rows per gram
    * group through the aggregate — ~100× this version's phase-2 work.
    *
    * The pairs come out in no particular order; callers that present
    * them sort.
    *
    * This is also the honest 100 TB composition: exact-dedup first
    * (`q_dedup_exact` is this pipeline's phase 1 with whole-text
    * features), near-dup only across distinct content, postings sharded
    * by gram — every shuffle carries a handful of longs. Pairs sharing
    * zero features never materialize: their Jaccard is 0 (or 0/0 → 0
    * for empty sets) on both engines and τ > 0 excludes them — same
    * result, no work. */
  private def bandedJaccardPairs(members: DataFrame, reps: DataFrame,
                                 tau: Double): DataFrame = {
    // ONE posting exchange shared by both join sides (renames sit ABOVE
    // it → ReuseExchange evaluates the subtree once), as wide as the
    // session's spark.sql.shuffle.partitions, like gramSetDocs' exchanges.
    // The explicit REPARTITION_BY_NUM also defeats AQE's input-size-based
    // coalescing, which sees only the small pre-explosion shuffle and
    // would collapse the join stage to ~1 task (measured: 14.7 s in one
    // task, 31 idle cores) — it cannot know the join output is m² per
    // gram group.
    // Features are hashed to 64-bit longs AFTER the explode (a
    // top-level xxhash64 is codegen'd; a per-element transform() lambda
    // is interpreted — measured 40 CPU-s vs ~2). A 64-bit collision
    // could perturb one Jaccard value with probability ~|vocab|²/2⁶⁴ ≈
    // 1e-8 — negligible.
    val posts = reps.select(col("setid"), col("lang"), col("n_ft"),
                            col("c_lo"), col("c_hi"), explode(col("ft")).as("g"))
      .select(col("setid"), col("lang"), col("n_ft"), col("c_lo"), col("c_hi"),
              xxhash64(col("g")).as("gram"))
      .repartition(shufflePartitions(reps.sparkSession), col("lang"), col("gram"))
    val aP = posts.select(col("lang"), col("gram"), col("setid").as("sa"),
                          col("n_ft").as("na"),
                          col("c_lo").as("a_lo"), col("c_hi").as("a_hi"))
    val bP = posts.select(col("lang"), col("gram"), col("setid").as("sb"),
                          col("n_ft").as("nb"),
                          col("c_lo").as("b_lo"), col("c_hi").as("b_hi"))
    val tauNum = math.round(tau * 10000) - 1  // τ−1e-4 in integer space
    val co = aP.join(bP, Seq("lang", "gram"))
      .where(col("sa") < col("sb") &&
             col("a_lo") <= col("b_hi") + 25 &&
             col("b_lo") <= col("a_hi") + 25 &&
             least(col("na"), col("nb")) * 10000 >=
               lit(tauNum) * greatest(col("na"), col("nb")))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("inter"),
           first(col("na")).as("na"), first(col("nb")).as("nb"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
              (col("na") + col("nb") - col("inter")), 4))
      .where(col("jaccard") >= tau)
      .select(col("sa"), col("sb"), col("jaccard"))
    // identical non-empty sets: J(A, A) = 1 by definition (the oracle's
    // 0/0 case for empty sets scores 0 and is excluded by τ > 0)
    val diag = reps.where(col("n_ft") > 0)
      .select(col("setid").as("sa"), col("setid").as("sb"),
              lit(1.0).as("jaccard"))
    val ma = members.select(col("setid").as("sa"), col("doc_id").as("ida"),
                            col("lang").as("la"), col("n_chars").as("ca"))
    val mb = members.select(col("setid").as("sb"), col("doc_id").as("idb"),
                            col("lang").as("lb"), col("n_chars").as("cb"))
    co.unionByName(diag)
      .join(ma, "sa")
      .join(mb, "sb")
      // same-set pairs appear as (x,y) AND (y,x) — keep one; cross-set
      // pairs appear once with arbitrary id order — canonicalize below
      .where((col("sa") =!= col("sb") || col("ida") < col("idb")) &&
             col("la") === col("lb") &&
             abs(col("ca") - col("cb")) <= 25)
      .select(least(col("ida"), col("idb")).as("a_id"),
              greatest(col("ida"), col("idb")).as("b_id"),
              col("jaccard"))
  }

  /** MinHash-LSH near-dup at scale (approx twin of q_dedup_jaccard; no
    * oracle — the hash-derived signatures are engine-specific).
    *
    * 32 minhashes banded as 16 bands × 2 rows: collision probability at
    * j=0.6 is 1-(1-0.36)^16 ≈ 0.999, so recall vs the exact twin is
    * high; candidates are then verified with exact Jaccard so precision
    * is 1.0. Only (band-key, set-id) pairs shuffle — never all pairs.
    *
    * Round 14: the op now rides the shared [[tokenSetFrames]]
    * canonicalization, exactly like the exact twin — signatures are a
    * function of the distinct-token SET alone, so the dup-heavy corpus'
    * ~10 docs per distinct set previously computed every signature,
    * banded every doc, and streamed ~n_dups² candidate rows per bucket
    * through the distinct (the sf0.1 fixture measured ~8M candidate
    * rows; set-level banding emits set pairs — ~100× fewer). The
    * signature base hash stays murmur3-of-token, computed once per
    * DISTINCT set element instead of once per doc token — signatures
    * are bit-identical to the per-doc form they replace (min over a
    * set equals min over its multiset). Verification is exact Jaccard
    * over the canonical feature arrays. Expansion to doc
    * pairs applies the twin's blocking predicates (same lang,
    * |Δchars| ≤ 25, a_id < b_id); identical-set docs collide on every
    * band, so the diagonal is J = 1.0 by definition, without touching
    * the index.
    *
    * The LSH bucket key includes the twin's blocking metadata (lang) and
    * the candidate prune applies the twin's rep-level n_chars interval
    * BEFORE the distinct — block-by-metadata-then-LSH-within-block is
    * the standard at-scale composition, and it only removes pairs the
    * exact twin also excludes, so recall vs the twin is unchanged.
    */
  def aDedupMinhash(s: SparkSession, sf: String): DataFrame = {
    val nHashes = 32
    val rowsPerBand = 2
    val prime = 2147483647L
    val (members, reps) = tokenSetFrames(s, sf)
    // minhash_i = min over the set's tokens of an affine remix of
    // murmur3(token) — ONE explode of the canonical feature array + 32
    // plain min aggregates (partial+final hash agg, fully codegen'd;
    // each distinct token hashed once per SET, not per doc).
    val tokRows = reps
      .select(col("setid"), col("lang"), col("c_lo"), col("c_hi"),
              explode(col("ft")).as("t"))
      .withColumn("h", hash(col("t")).cast("long"))
    val sigAggs: Seq[Column] = (0 until nHashes).map { i =>
      val a = 2L * i + 1; val b = 104729L * (i + 1)
      min(pmod(col("h") * a + b, lit(prime))).as(s"s$i")
    }
    val sigRows = tokRows
      .groupBy(col("setid"), col("lang"), col("c_lo"), col("c_hi"))
      .agg(sigAggs.head, sigAggs.tail: _*)
    // Band key: xxhash64(band-index, sig_0, sig_1) — a LONG, not a
    // concat string (8-byte shuffle keys and integer compares in the
    // sort-merge; the band index baked into the hash makes one flat key
    // space). A 64-bit hash collision can only ADD a candidate pair,
    // and every candidate is exact-Jaccard-verified, so correctness is
    // unaffected.
    val bands: Column = array((0 until nHashes / rowsPerBand).map { j =>
      xxhash64((lit(j) +: (j * rowsPerBand until (j + 1) * rowsPerBand)
        .map(i => col(s"s$i"))): _*)
    }: _*)
    // ONE banded exchange shared by both join sides (renames above it →
    // ReuseExchange), at the session's shuffle width and explicitly
    // REPARTITION_BY_NUM so AQE's input-size coalescing can't collapse
    // the band join to ~1 task (it sees only the small pre-join shuffle,
    // not the in-bucket pair blow-up).
    val exploded = sigRows.select(col("setid"), col("lang"),
                                  col("c_lo"), col("c_hi"),
                                  explode(bands).as("key"))
      .repartition(shufflePartitions(s), col("lang"), col("key"))
    val left = exploded.select(col("lang"), col("key"),
      col("setid").as("sa"), col("c_lo").as("a_lo"), col("c_hi").as("a_hi"))
    val right = exploded.select(col("lang"), col("key"),
      col("setid").as("sb"), col("c_lo").as("b_lo"), col("c_hi").as("b_hi"))
    val cand = left.join(right, Seq("lang", "key"))
      .where(col("sa") < col("sb") &&
             col("a_lo") <= col("b_hi") + 25 &&
             col("b_lo") <= col("a_hi") + 25)
      .select("sa", "sb").distinct()
    val inter = size(array_intersect(col("a_ft"), col("b_ft")))
    val jac = inter.cast("double") /
              (size(col("a_ft")) + size(col("b_ft")) - inter)
    val verified = cand
      .join(reps.select(col("setid").as("sa"), col("ft").as("a_ft")), "sa")
      .join(reps.select(col("setid").as("sb"), col("ft").as("b_ft")), "sb")
      .withColumn("jaccard", round(jac, 4))
      .where(col("jaccard") >= 0.6)
      .select(col("sa"), col("sb"), col("jaccard"))
    // identical non-empty sets share every band key: J = 1.0 directly
    val diag = reps.where(col("n_ft") > 0)
      .select(col("setid").as("sa"), col("setid").as("sb"),
              lit(1.0).as("jaccard"))
    val ma = members.select(col("setid").as("sa"), col("doc_id").as("ida"),
                            col("lang").as("la"), col("n_chars").as("ca"))
    val mb = members.select(col("setid").as("sb"), col("doc_id").as("idb"),
                            col("lang").as("lb"), col("n_chars").as("cb"))
    verified.unionByName(diag)
      .join(ma, "sa")
      .join(mb, "sb")
      .where((col("sa") =!= col("sb") || col("ida") < col("idb")) &&
             col("la") === col("lb") &&
             abs(col("ca") - col("cb")) <= 25)
      .select(least(col("ida"), col("idb")).as("a_id"),
              greatest(col("ida"), col("idb")).as("b_id"),
              col("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** n-gram (word-bigram shingle) Jaccard near-dup — order-sensitive,
    * unlike the token-SET variant: on this corpus the bag-of-words
    * lookalikes score ≤ 0.1 while true duplicates score 1.0, so shingle
    * Jaccard separates them cleanly. Same (lang, length-band) blocking
    * and bucket-and-replicate join as q_dedup_jaccard, over w=2 gram
    * sets ([[gramSetFrames]]). */
  def qDedupNgram(s: SparkSession, sf: String): DataFrame = {
    val tk = split(col("text"), " ")
    // guard the 1-token doc: sequence(0, -1) would count DOWN in Spark
    // while the oracle's range(0) is empty
    val grams = when(size(tk) >= 2,
      array_distinct(transform(sequence(lit(0), size(tk) - 2),
        i => concat_ws(" ", slice(tk, i + 1, lit(2))))))
      .otherwise(array().cast("array<string>"))
    val (members, reps) = gramSetFrames(s, Tables.documents(s, sf), grams)
    bandedJaccardPairs(members, reps, 0.5).orderBy("a_id", "b_id")
  }

  /** SimHash near-dup at scale (no oracle — xxhash64 is engine-specific).
    *
    * 32-bit SimHash per doc: bit j is the sign of Σ over distinct tokens
    * of ±1 by token-hash bit j. Candidate generation bands the signature
    * into 4 × 8-bit chunks — two docs within Hamming distance 3 of each
    * other must agree on ≥ 1 full chunk (pigeonhole), so the banding
    * equi-join (blocked by lang like the Jaccard twin) has guaranteed
    * recall 1.0 for d ≤ 3; candidates verify with exact
    * `bit_count(xor)`. Same shuffle discipline as MinHash-LSH: only
    * (lang, band, chunk, set-id, sig) rides the join, never token
    * arrays.
    *
    * Round 14: rides the shared [[tokenSetFrames]] canonicalization
    * like the MinHash twin — the signature is a function of the
    * distinct-token set (votes = xxhash64 per distinct token, hashed
    * once per SET instead of once per doc), so per-set signatures are
    * bit-identical to the per-doc signatures they replace;
    * banding/verification run per distinct set, and doc pairs expand
    * through the membership table with the twin's blocking predicates.
    * Identical-set docs agree on every chunk: Hamming 0 by
    * definition. */
  def aDedupSimhash(s: SparkSession, sf: String): DataFrame = {
    val nBits = 32
    val nBands = 4
    val bitsPerBand = nBits / nBands
    val (members, reps) = tokenSetFrames(s, sf)
    val tokRows = reps
      .select(col("setid"), col("lang"), col("c_lo"), col("c_hi"),
              explode(col("ft")).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val voteAggs: Seq[Column] = (0 until nBits).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(1) * 2 - 1).as(s"v$j")
    }
    val sig: Column = (0 until nBits).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val d = tokRows
      .groupBy(col("setid"), col("lang"), col("c_lo"), col("c_hi"))
      .agg(voteAggs.head, voteAggs.tail: _*)
      .withColumn("sig", sig)
      .drop((0 until nBits).map(j => s"v$j"): _*)
    val chunks: Column = array((0 until nBands).map { k =>
      shiftright(col("sig"), k * bitsPerBand).bitwiseAND((1 << bitsPerBand) - 1)
    }: _*)
    // shared non-coalescible banded exchange (same rationale as minhash)
    val exploded = d.select(col("setid"), col("lang"), col("c_lo"),
                            col("c_hi"), col("sig"),
                            posexplode(chunks).as(Seq("band", "chunk")))
      .repartition(shufflePartitions(s), col("lang"), col("band"), col("chunk"))
    val left = exploded.select(col("lang"), col("band"), col("chunk"),
      col("setid").as("sa"), col("c_lo").as("a_lo"), col("c_hi").as("a_hi"),
      col("sig").as("a_sig"))
    val right = exploded.select(col("lang"), col("band"), col("chunk"),
      col("setid").as("sb"), col("c_lo").as("b_lo"), col("c_hi").as("b_hi"),
      col("sig").as("b_sig"))
    val cand = left.join(right, Seq("lang", "band", "chunk"))
      .where(col("sa") < col("sb") &&
             col("a_lo") <= col("b_hi") + 25 &&
             col("b_lo") <= col("a_hi") + 25)
      .select(col("sa"), col("sb"),
              bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= 3)
    // identical sets: identical signatures, Hamming 0 by definition
    val diag = reps.where(col("n_ft") > 0)
      .select(col("setid").as("sa"), col("setid").as("sb"),
              lit(0).as("hamming"))
    val ma = members.select(col("setid").as("sa"), col("doc_id").as("ida"),
                            col("lang").as("la"), col("n_chars").as("ca"))
    val mb = members.select(col("setid").as("sb"), col("doc_id").as("idb"),
                            col("lang").as("lb"), col("n_chars").as("cb"))
    cand.unionByName(diag)
      .join(ma, "sa")
      .join(mb, "sb")
      .where((col("sa") =!= col("sb") || col("ida") < col("idb")) &&
             col("la") === col("lb") &&
             abs(col("ca") - col("cb")) <= 25)
      .select(least(col("ida"), col("idb")).as("a_id"),
              greatest(col("ida"), col("idb")).as("b_id"),
              col("hamming"))
      .orderBy("a_id", "b_id")
  }

  /** Near-dup CLUSTERS: connected components over the exact-Jaccard
    * pair graph (τ=0.6, same blocking as `q_dedup_jaccard`), labels =
    * min reachable doc_id. This is the step a real dedup pipeline runs
    * after pair generation — "keep one doc per cluster" needs the
    * component, not the pairs (A≈B, B≈C ⟹ {A,B,C} is one cluster even
    * if A,C never paired).
    *
    * Implementation: partition-local union-find contraction
    * ([[Util.componentLabels]]): each round routes every pair to both
    * endpoints' hash partitions, unions each partition's pairs locally
    * (min id as root) and merges a node's roots with one groupBy; the
    * round's own checkpoint job observes whether the result is already
    * a star forest, so there is no separate convergence job and no
    * session conf is touched. The fixture pair graphs fit one partition
    * and close in 1 round. Hub skew is bounded by the routing: a node
    * of degree d puts all d of its edges in one partition's union-find,
    * so the largest partition holds the hub's edges plus its ~1/p share
    * of the rest, and the union-find's arrays are linear in that.
    * `q_graph_cc_star` is this op too: the key's contract is the
    * component-min labeling, not the algorithm.
    * Output: (doc_id, cluster_id, cluster_size) for every doc that has
    * at least one near-dup. */
  def qDedupCluster(s: SparkSession, sf: String): DataFrame = {
    val (graph, nPairs) = pairGraph(s, sf)
    val labels = Util.componentLabels(graph.select(col("a_id"), col("b_id")), nPairs)
    val sizes = labels.groupBy(col("lab")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lab")
      .select(col("id").as("doc_id"), col("lab").as("cluster_id"),
              col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Degree distribution of the τ=0.6 near-dup graph — the first
    * diagnostic read on any dup graph (a heavy tail means template
    * families / hub pages; a flat distribution means pairwise drift):
    * per-node degree over the canonical pair list, then the
    * degree→node-count histogram. ALL-INTEGER; two hash aggs over the
    * (already filtered) pair list — nothing data-sized past the pair
    * stage. */
  def qGraphDegreeDist(s: SparkSession, sf: String): DataFrame = {
    directedEdges(nearDupPairGraph(s, sf))
      .groupBy(col("u")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")
  }

  /** Both directions of an undirected (`a_id`, `b_id`) pair list, as
    * (`u`, `v`): the SQL edge list `pairs ∪ swapped`. */
  private def directedEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .unionAll(pairs.select(col("b_id").as("u"), col("a_id").as("v")))

  /** 2-core of the τ=0.6 near-dup graph by iterative degree peeling —
    * separates DENSE duplication structure (template families, where
    * every member has ≥2 near-dup neighbors even after pruning) from
    * pendant/chain noise that degree-1 trimming dissolves; the
    * standard preprocessing cut before any clique-ish analysis
    * (triangles, community detection) on a dup graph. The oracle's 10
    * unrolled synchronous rounds each keep the edges whose two ends
    * both have degree ≥ 2; a round reads only a node's neighbours, so
    * each connected component peels on its own in one task
    * ([[Util.perComponent]]), and stops after a round that removes
    * nothing (later rounds are identities). ALL-INTEGER output:
    * (node, within-core degree). */
  def qGraph2core(s: SparkSession, sf: String): DataFrame =
    graph2core(nearDupPairGraph(s, sf), nearDupPairCount(s, sf)).orderBy("doc_id")

  /** [[qGraph2core]]'s unordered rows over any pair list. */
  private[graft] def graph2core(pairs: DataFrame, nPairs: Long): DataFrame =
    Util.perComponent(pairs, nPairs)(peel2core).toDF("doc_id", "core_degree")

  private def peel2core(a: Array[Long], b: Array[Long]): Iterator[(Long, Long)] = {
    val g = Util.LocalGraph(a, b)
    // a removed node's degree is 0, so `deg ≥ 2` is the round's keep set,
    // and equal degree arrays mean the round removed no edge
    var deg = Array.tabulate(g.n)(g.deg)
    var (rounds, removed) = (0, true)
    while (removed && rounds < 10) {
      val keep = deg.map(_ >= 2)
      val next = Array.tabulate(g.n)(i =>
        if (!keep(i)) 0 else (g.off(i) until g.off(i + 1)).count(k => keep(g.nbr(k))))
      removed = !java.util.Arrays.equals(next, deg)
      deg = next
      rounds += 1
    }
    Iterator.range(0, g.n).filter(deg(_) > 0).map(i => (g.ids(i), deg(i).toLong))
  }

  /** Common-neighbor link prediction over the τ=0.6 near-dup graph —
    * "which document pairs are PROBABLY near-dups the banding missed":
    * non-adjacent pairs at distance 2, scored by neighborhood Jaccard
    * |N(u)∩N(w)| / |N(u)∪N(w)| = cn/(dᵤ+d𝓌−cn). The graph-structural
    * recall check for the dedup family (a high-scoring non-edge is
    * either a threshold near-miss or a banding false-negative).
    * ALL-INTEGER: wedge-count cn per candidate from one mid-vertex
    * equi-join (the `q_graph_triangles` shape, bounded by out-degree²),
    * degrees joined in, 1e4 fixed-point score via integer div; top-30
    * with full (score, u, w) tie order. */
  def qGraphLinkpred(s: SparkSession, sf: String): DataFrame =
    qGraphLinkpredWith(s, sf, canonicalPairPack(s, sf))

  /** [[qGraphLinkpred]] over the given pair pack; None (a graph the
    * pack refuses) takes the anti-join. */
  private[graft] def qGraphLinkpredWith(
      s: SparkSession, sf: String,
      pack: Option[org.apache.spark.broadcast.Broadcast[Array[Long]]]): DataFrame = {
    // no per-query checkpoint: the shared pair graph is already a
    // block-cached reliable artifact; a select over it re-reads blocks
    val pairs = nearDupPairGraph(s, sf)
      .select(col("a_id"), col("b_id"))
    val edges = directedEdges(pairs)
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
    // distance-2 candidates need ALL wedges (no orientation shortcut),
    // so the skew guard is the hub-salted layout: a hub mid-vertex's
    // deg² pairs spread over the salt buckets instead of one reducer,
    // output multiset unchanged (Util.hubSaltedWedges)
    val nAdj = 2L * nearDupPairCount(s, sf)
    val wedged = Util.hubSaltedWedges(s,
        edges.select(col("u").as("m"), col("v").as("e")), nAdj)
      .where(col("u") < col("w"))
    // adjacency tested MAP-SIDE on the wedge stream via the canonical
    // pair pack + bit pre-filter, BEFORE the count agg — row-identical
    // to the anti-join (each wedge belongs to exactly one (u,w) group)
    // but the clique-heavy adjacent share of wedge mass never reaches
    // the agg hash tables or the candidate exchange. A same-box A/B
    // showed the pack filter winning at fixture scale too once the
    // wedge exchanges are width-pinned (1.91 vs 3.71 s); the pack
    // builder's own budget/id-range gates route oversized graphs to
    // the anti-join (PropertySpec pins both paths row-identical).
    val cand = pack match {
      case Some(bcEnc) =>
        wedged.where(!graft.functions.VectorExpressions.pairContains(
            col("u"), col("w"), bcEnc))
          .groupBy(col("u"), col("w")).agg(count(lit(1)).as("cn"))
      case None =>
        // the canonical pair list is 16 B/row and |E|-sized — gate-
        // broadcast it so the anti-join never sorts the candidate
        // frame (round 14: the SMJ anti-join sorted ~Σdeg²-derived
        // candidates against a 5 MB build side)
        wedged
          .groupBy(col("u"), col("w")).agg(count(lit(1)).as("cn"))
          .join(Util.gatedBroadcast(s,
                  pairs.select(col("a_id").as("u"), col("b_id").as("w")),
                  nAdj / 2, bytesPerRow = 24),
                Seq("u", "w"), "left_anti")
    }
    // deg is |V|-sized (one count job over the cached pair frame sizes
    // the gate exactly): under the gate both decorations broadcast —
    // round 14 measured the default plan SORT-MERGE-joining the ~1M-row
    // candidate frame against the 4k-row degree frame TWICE (two full
    // candidate sorts, 7.1 s of the 7.6 s key)
    val nNodes = deg.count()
    cand
      .join(Util.gatedBroadcast(s, deg.select(col("u"), col("d").as("du")),
              nNodes), "u")
      .join(Util.gatedBroadcast(s, deg.select(col("u").as("w"), col("d").as("dw")),
              nNodes), "w")
      .withColumn("jacc_fp", expr("(10000 * cn) div (du + dw - cn)"))
      .select(col("u"), col("w"), col("cn"), col("du"), col("dw"), col("jacc_fp"))
      .orderBy(col("jacc_fp").desc, col("u"), col("w"))
      .limit(30)
  }

  /** Exact 2-hop neighborhood size per node of the τ=0.6 near-dup
    * graph — "how many documents are a friend-of-a-friend but not a
    * direct near-dup", the reach statistic behind contamination
    * blast-radius estimates (one bad doc's 2-hop set is what a
    * cluster-level purge would remove). ALL-INTEGER: wedges from one
    * mid-vertex equi-join (bounded by Σdeg², the `q_graph_triangles`
    * shape), DISTINCT endpoint per (u,w), anti-join against direct
    * edges, self excluded, count per u; degree joined in so the row
    * reads (node, direct neighbors, strictly-2-hop nodes). Every
    * shuffle is keyed on node ids — no broadcast, no driver loop. */
  def qGraph2hop(s: SparkSession, sf: String): DataFrame =
    qGraph2hopWith(s, sf, canonicalPairPack(s, sf))

  /** [[qGraph2hop]] over the given pair pack; None (a graph the pack
    * refuses) takes the anti-join. */
  private[graft] def qGraph2hopWith(
      s: SparkSession, sf: String,
      pack: Option[org.apache.spark.broadcast.Broadcast[Array[Long]]]): DataFrame = {
    val edges = directedEdges(nearDupPairGraph(s, sf))
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    // all-wedges enumeration is inherent to exact 2-hop reach; the
    // hub-salted layout spreads a hub mid-vertex's deg² rows across
    // salt buckets (output multiset identical — Util.hubSaltedWedges)
    val nAdj = 2L * nearDupPairCount(s, sf)
    val wedged = Util.hubSaltedWedges(s,
        edges.select(col("u").as("m"), col("v").as("e")), nAdj)
      .where(col("u") =!= col("w"))
    // the same early map-side adjacency filter as q_graph_linkpred —
    // the candidate pairs here ride BOTH orders, so the canonical pack
    // is probed on (least, greatest); dropping adjacent rows before the
    // distinct is set-identical to the anti-join after it, and the
    // clique-heavy adjacent wedge mass never reaches the distinct's
    // exchange.
    val nonAdj = pack match {
      case Some(bcEnc) =>
        wedged.where(!graft.functions.VectorExpressions.pairContains(
            least(col("u"), col("w")), greatest(col("u"), col("w")), bcEnc))
          .select(col("u"), col("w")).distinct()
      case None =>
        wedged.select(col("u"), col("w")).distinct()
          .join(edges.select(col("u"), col("v").as("w")), Seq("u", "w"), "left_anti")
    }
    val twoHop = nonAdj
      .groupBy(col("u")).agg(count(lit(1)).as("n_2hop"))
    deg.join(twoHop, Seq("u"), "left_outer")
      .select(col("u"), col("deg"),
              coalesce(col("n_2hop"), lit(0L)).as("n_2hop"))
      .orderBy("u")
  }

  /** Local clustering coefficient per node of the τ=0.6 near-dup graph
    * — "how clique-like is each document's near-dup neighborhood":
    * cc(u) = 2·t(u)/(d(u)·(d(u)−1)) where t(u) counts edges among u's
    * neighbors. Template families score ~1 (every member resembles
    * every other); chain/drift structure scores ~0 — the per-node
    * refinement of [[qGraphTriangles]]'s global count, and the standard
    * "is this cluster safe to collapse to one representative" gate
    * before dedup collapses a whole component. ALL-INTEGER: wedges
    * centered at u from one mid-vertex equi-join (bounded by Σdeg²,
    * the triangle shape), closed wedges kept by a semi-join against
    * the canonical (v<w) pair list, 1e4 fixed-point cc via integer
    * div. Every shuffle keys on node ids; no broadcast, no loop. */
  def qGraphClustercoef(s: SparkSession, sf: String): DataFrame = {
    val edges = directedEdges(nearDupPairGraph(s, sf))
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    // t(u) from the SHARED degree-oriented triangle frame (each
    // triangle once, credit all three corners) — replaces the per-node
    // wedge self-join whose deg(u)² work piled onto hub reducers; see
    // [[orientedTriangleTriples]] for the hub-immunity argument
    val tri = orientedTriangleTriples(s, sf)
      .select(explode(array(col("x"), col("y"), col("z"))).as("u"))
      .groupBy(col("u")).agg(count(lit(1)).as("tri"))
    deg.join(tri, Seq("u"), "left_outer")
      .select(col("u").as("doc_id"), col("deg"),
              coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("cc_fp",
        when(col("deg") >= 2,
             expr("(20000 * tri) div (deg * (deg - 1))"))
          .otherwise(lit(0L)))
      .orderBy("doc_id")
  }

  /** Degree assortativity of the τ=0.6 near-dup graph — the one-number
    * "do hubs attach to hubs" readout (Newman, "Assortative mixing in
    * networks"): Pearson r between the endpoint degrees over every
    * directed edge. Template-dominated corpora are strongly assortative
    * (dense families interlink); boilerplate-hub corpora (one landing
    * page near-dup'd by thousands of leaves) are disassortative — the
    * sign alone picks the right dedup strategy (component collapse vs
    * hub-and-spoke pruning). EXACT integer moments: Σx, Σxy, Σx² over
    * the directed edge list are BIGINTs (x=source degree, y=dest
    * degree; the directed list is symmetric so Σx=Σy, Σx²=Σy² — both
    * moment pairs still computed, the readout uses the general
    * formula); covariance/variance numerators cross-multiplied in
    * DECIMAL(38,0) (the §2.13 ANOVA pattern — m·Σxy overflows BIGINT at
    * ~1e9 edges × 1e6 max degree²), one double division + sqrt rounded
    * to 6dp at the end. Shape: degree hash-agg, two node-keyed joins to
    * decorate edges, constant-size final agg — one row out. */
  def qGraphAssortativity(s: SparkSession, sf: String): DataFrame = {
    val edges = directedEdges(nearDupPairGraph(s, sf))
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
    edges
      .join(deg.select(col("u"), col("d").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
      .agg(count(lit(1)).as("m"),
           sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
           sum(col("du") * col("dv")).as("sxy"),
           sum(col("du") * col("du")).as("sxx"),
           sum(col("dv") * col("dv")).as("syy"))
      .select(col("m"),
        expr("CAST(CAST(m AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)").as("cov_num"),
        expr("CAST(CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)").as("var_x"),
        expr("CAST(CAST(m AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)").as("var_y"))
      // degenerate-variance guard: an all-equal-degree graph (e.g.
      // isolated pairs only) makes var_x = var_y = 0 and 0/0 is NaN on
      // Spark but NULL/Inf (version-dependent) on DuckDB — NULL-pin the
      // undefined correlation on both engines instead
      .withColumn("assort",
        expr("CASE WHEN var_x > 0 AND var_y > 0 " +
             "THEN round(cov_num / sqrt(var_x * var_y), 6) ELSE NULL END"))
      .select(col("m"), col("assort"))
  }

  /** Seeded multi-source BFS over the τ=0.6 near-dup graph: shortest
    * hop-distance from any seed (doc_id ≡ 0 mod 100) to every node its
    * component can reach, bounded at 20 hops — the reachability
    * diagnostic for dup graphs (how far does a known-bad template
    * family spread?) and the third member of the iterative-graph
    * family (CC labels, PageRank mass, now distances).
    *
    * A node's distance is final the round it is first reached, and a
    * round reads only a node's neighbours, so each connected component
    * runs a frontier BFS from its own seeds in one task
    * ([[Util.perComponent]]), to the oracle's recursion bound of 20
    * hops. All-INTEGER output. */
  def qGraphBfs(s: SparkSession, sf: String): DataFrame =
    graphBfs(nearDupPairGraph(s, sf), nearDupPairCount(s, sf)).orderBy("doc_id")

  /** [[qGraphBfs]]'s unordered rows over any pair list. */
  private[graft] def graphBfs(pairs: DataFrame, nPairs: Long): DataFrame =
    Util.perComponent(pairs, nPairs)(bfs20).toDF("doc_id", "dist")

  private def bfs20(a: Array[Long], b: Array[Long]): Iterator[(Long, Long)] = {
    val g = Util.LocalGraph(a, b)
    val dist = Array.tabulate(g.n)(i => if (g.ids(i) % 100 == 0) 0L else -1L)
    var frontier = dist.indices.filter(dist(_) == 0)
    var d = 0L
    while (frontier.nonEmpty && d < 20) {
      d += 1
      val next = Vector.newBuilder[Int]
      for (i <- frontier; k <- g.off(i) until g.off(i + 1); j = g.nbr(k))
        if (dist(j) < 0) { dist(j) = d; next += j }
      frontier = next.result()
    }
    Iterator.range(0, g.n).filter(dist(_) >= 0).map(i => (g.ids(i), dist(i)))
  }

  /** Corpus stats per (lang, source); integer sums stay exact. */
  def qTextStats(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("sum_chars"),
           (sum(size(split(col("text"), " "))).cast("double") / count(lit(1)))
             .as("avg_tokens"))
      .orderBy("lang", "source")

  /** Top-50 term frequencies (word-count over the corpus). */
  def qTextTf(s: SparkSession, sf: String): DataFrame =
    TextAnalysis.docTokenCounts(s, sf)
      .groupBy(col("token"))
      .agg(sum(col("c")).as("n"))
      .orderBy(desc("n"), asc("token"))
      .limit(50)

  /** Top-30 (doc, term) TF-IDF scores — the classic distinctive-term
    * ranking (it surfaces the corpus' planted "dup" markers). Three
    * aggregates: per-(doc, term) tf, per-term df (both partial+final
    * hash aggs over exploded tokens), corpus N as a broadcast 1-row
    * side. df is VOCABULARY-sized — fixture-small, but at web-corpus
    * scale the vocabulary is data-sized (hundreds of millions of
    * tokens), so the broadcast into the tf join is SIZE-GATED
    * (Util.gatedBroadcast) on an upper bound of |vocab|: n_docs (a
    * metadata-only parquet count, cheap at any scale) × 150 distinct
    * tokens/doc. Heap's-law sublinearity makes the true vocab smaller,
    * so the overestimate only ever engages the shuffle fallback EARLY
    * — never an OOM late. Past the gate the same equi-join runs as a
    * sort-merge join on `token` (PlanShapeSpec pins both branches).
    * The top-30 runs as TakeOrderedAndProject on the ROUNDED score
    * with full (doc, term) tie-breaks — rounding before ordering keeps
    * the cut deterministic across engines' last-ulp `ln` differences. */
  def qTextTfidf(s: SparkSession, sf: String): DataFrame = {
    val docs = Tables.documents(s, sf)
    val tf = TextAnalysis.docTokenCounts(s, sf)
      .select(col("doc_id"), col("token"), col("c").as("tf"))
    val df_ = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nd = broadcast(docs.agg(count(lit(1)).as("nd")))
    val dfGated = Util.gatedBroadcast(s, df_,
      estRows = Tables.rowCount(s, sf, "documents") * 150)
    tf.join(dfGated, "token").crossJoin(nd)
      .select(col("doc_id"), col("token"),
              round(col("tf") * round(log(col("nd").cast("double") / col("df")), 4), 4).as("tfidf"))
      .orderBy(desc("tfidf"), asc("doc_id"), asc("token"))
      .limit(30)
  }

  /** Top-3 TF-IDF keywords per document — the per-doc refinement of
    * `q_text_tfidf`'s corpus-global top list (keyword extraction is
    * what tags/routes/indexes each doc in a curation pipeline): same
    * tf·ln(N/df) score, same gated df broadcast (vocab-sized frame —
    * the loop-frame rule), ranked INSIDE each doc by row_number over
    * (score desc, token asc) — a deterministic total order because
    * both engines compute the identical double from the identical
    * exact-integer ratio. Shape: two hash aggs + one doc-keyed window
    * — nothing data-sized past the (doc, token) agg. */
  def qTextKeywordExtract(s: SparkSession, sf: String): DataFrame = {
    val docs = Tables.documents(s, sf)
    val tf = TextAnalysis.docTokenCounts(s, sf)
      .select(col("doc_id"), col("token"), col("c").as("tf"))
    val df_ = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nd = broadcast(docs.agg(count(lit(1)).as("nd")))
    val dfGated = Util.gatedBroadcast(s, df_,
      estRows = Tables.rowCount(s, sf, "documents") * 150)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(desc("tfidf"), asc("token"))
    tf.join(dfGated, "token").crossJoin(nd)
      .select(col("doc_id"), col("token"),
              round(col("tf") * round(log(col("nd").cast("double") / col("df")), 4), 4).as("tfidf"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("token"), col("tfidf"))
      .orderBy("doc_id", "rk")
  }

  /** Edit-distance near-dup pairs: Levenshtein ≤ 25 on the 80-char
    * prefix, between same-lang docs with |Δchars| ≤ 5 — the
    * character-level verifier that catches small in-place edits
    * token-set Jaccard is blind to. INTEGER output (the distance), so
    * the result is hash-exact cross-engine with no float anywhere.
    *
    * Blocking is NEIGHBOR-BUCKET bucket-and-replicate (left replicates
    * to char-buckets {k−1, k, k+1}; width-5 buckets ±1 cover the
    * |Δchars| ≤ 5 band),
    * and a positional chunk-fingerprint pigeonhole gate screens each
    * block pair before the O(80·25) banded DP. The oracle states the
    * result as a plain theta join — fixture-scale equivalence, like
    * q_dedup_jaccard's declared band. */
  def qDedupEditdist(s: SparkSession, sf: String): DataFrame = {
    // Round-8 rework of the sf10 scale-killer (629 s: the candidate
    // stream carried two 80-char prefixes per pair AND ran the O(80·25)
    // banded DP on every same-block pair). The block join now carries a
    // POSITIONAL CHUNK FINGERPRINT instead of the prefixes — 27 ints,
    // element c = hash of the FIXED char range [3c, 3c+3) of the
    // prefix — and a pigeonhole gate runs before the DP: 25 edits
    // cannot dirty all 27 aligned chunks, so any true pair whose edits
    // are SUBSTITUTIONS shares ≥1 aligned chunk (no false negatives),
    // while unrelated same-block texts pass only at the ~81·|Σ|⁻³
    // chunk-collision rate (~10⁻³ measured). Indel-shifted pairs are
    // caught via chunks before the first indel, plus (round-9, the
    // round-8 ADVICE) the gate's ±1-INDEX acceptance covers net shifts
    // of exactly ±3 chars at any untouched chunk; other net shifts
    // remain the DECLARED fixture-scale band, verified lossless
    // against the ungated DP at
    // sf0.01/sf0.1 (oracle, every round) and at sf1 (cross-checked
    // this round: 180,160 pairs, identical). The DP then runs on
    // survivors only — at sf10 that is ~the answer itself, which is
    // legitimately cross-copy quadratic in this fixture (same-base
    // copies sit ~#tokens substitutions apart), i.e. the op is
    // OUTPUT-bound at scale like q_multimodal_neardup, no longer
    // candidate-bound.
    val chunkSig = expr(
      "transform(sequence(0, 26), c -> hash(substring(pfx, c * 3 + 1, 3)))")
    val base = Tables.documents(s, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"),
              substring(col("text"), 1, 80).as("pfx"),
              expr("n_chars div 5").as("bk"))
    val keyed = base.withColumn("sig", chunkSig)
    val left = keyed
      .withColumn("bkr", explode(array(col("bk") - 1, col("bk"), col("bk") + 1)))
      .select(col("lang"), col("bkr").as("bk"), col("doc_id").as("a_id"),
              col("n_chars").as("a_chars"), col("sig").as("a_sig"))
    val right = keyed
      .select(col("lang"), col("bk"), col("doc_id").as("b_id"),
              col("n_chars").as("b_chars"), col("sig").as("b_sig"))
    // ±1-bucket replication on the left only: every qualifying pair
    // joins EXACTLY once (at the right doc's bucket) — no distinct
    // needed. Width-5 buckets (±1 still covers the |Δchars| ≤ 5 band)
    // rather than width-10: the block-pair stream shrinks ~2× toward
    // the true band, and the exact band filter below keeps semantics
    // identical. The pair stream is generated and gated inside one
    // stage; only the ~10⁻³ survivors leave it.
    val cand = left.join(right, Seq("lang", "bk"))
      .where(col("a_id") < col("b_id") &&
             abs(col("a_chars") - col("b_chars")) <= 5 &&
             graft.functions.StringFilters.anyAlignedEqual(col("a_sig"), col("b_sig")))
      .select("a_id", "b_id")
    // prefixes re-join on the survivor set (size-gated broadcast: the
    // (doc_id, 80-char pfx) frame broadcasts at fixture scales, falls
    // back to a shuffle join past the gate)
    val pfx = base.select(col("doc_id"), col("pfx"))
    val nDocs = Tables.rowCount(s, sf, "documents")
    cand
      .join(Util.gatedBroadcast(s,
              pfx.select(col("doc_id").as("a_id"), col("pfx").as("a_pfx")),
              nDocs, 96, budgetBytes = 128L << 20), "a_id")
      .join(Util.gatedBroadcast(s,
              pfx.select(col("doc_id").as("b_id"), col("pfx").as("b_pfx")),
              nDocs, 96, budgetBytes = 128L << 20), "b_id")
      // banded DP: the threshold overload is O(k·n) not O(n²) and
      // returns -1 above the bound — for surviving pairs (d ≤ 25) the
      // banded distance equals the exact one, so the oracle's plain
      // levenshtein(...) <= 25 states the identical result set
      .withColumn("lev", levenshtein(col("a_pfx"), col("b_pfx"), 25))
      .where(col("lev") >= 0)
      .select(col("a_id"), col("b_id"), col("lev").cast("long").as("lev"))
      .orderBy("a_id", "b_id")
  }

  /** End-to-end corpus curation — the full training-data pipeline as
    * ONE composed operator, with drop accounting at each gate:
    *
    *   1. EXACT dedup: keep the min doc_id per normalized-text hash
    *      (`q_dedup_exact`'s rule).
    *   2. NEAR-DUP prune: drop any survivor that Jaccard-pairs (τ=0.6,
    *      same banding as `q_dedup_jaccard`) with a SMALLER surviving
    *      doc_id — the deterministic one-hop pruning rule (a doc is
    *      dropped iff a smaller near-dup survived step 1; transitive
    *      clustering is `q_dedup_cluster`'s job).
    *   3. QUALITY gate: `q_text_gopher`'s integer rules.
    *   4. SPLIT: `q_sample_split`'s md5 train/val/test assignment.
    *
    * Output: per (split, lang) — docs kept + how many each gate
    * dropped. All-integer accounting, so the composite is hash-exact.
    * Each stage reuses the scale shape already proven for its
    * standalone op; the whole pipeline is 3 data-sized shuffles
    * (dedup groupBy, pair join, final rollup). */
  def qPipelineCurate(s: SparkSession, sf: String): DataFrame = {
    val docs = Tables.documents(s, sf)
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(norm)).orderBy(col("doc_id"))
    val kept1 = docs.withColumn("rn", row_number().over(byHash))
      .withColumn("exact_dup", col("rn") > 1)
    val survivors = kept1.where(!col("exact_dup"))
    // one-hop near-dup prune among survivors: b_id drops when a smaller
    // a_id pairs with it
    val dropB = {
      val (m, r) = gramSetFrames(s, survivors,
        array_distinct(split(col("text"), " ")))
      bandedJaccardPairs(m, r, 0.6)
    }.select(col("b_id").as("doc_id")).distinct()
    val kept2 = survivors.join(dropB.withColumn("near_dup", lit(true)),
                               Seq("doc_id"), "left")
      .withColumn("near_dup", coalesce(col("near_dup"), lit(false)))
    // the SHARED gopher rules and split assignment (Util.gopherRules /
    // Util.trainValTest) — the composite must stay bit-equal to the
    // standalone q_text_gopher / q_sample_split gates it claims to
    // compose (a hand-copied variant here once dropped the lower())
    val (rWc, rMwl, rRep) = Util.gopherRules(col("text"), col("n_chars"))
    val qPass = rWc && rMwl && rRep
    val split_ = Util.trainValTest(col("doc_id"))
    kept1.select(col("doc_id"), col("lang"), col("exact_dup"))
      .join(kept2.select(col("doc_id"), col("near_dup")), Seq("doc_id"), "left")
      .join(docs.select(col("doc_id"), col("text"), col("n_chars"))
              .withColumn("q_pass", qPass).select("doc_id", "q_pass"),
            "doc_id")
      .withColumn("split", split_)
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("exact_dup"), 1L).otherwise(0L)).as("n_exact_dup"),
           sum(when(coalesce(col("near_dup"), lit(false)), 1L).otherwise(0L)).as("n_near_dup"),
           sum(when(!col("exact_dup") && !coalesce(col("near_dup"), lit(false)) && !col("q_pass"), 1L)
                 .otherwise(0L)).as("n_quality_fail"),
           sum(when(!col("exact_dup") && !coalesce(col("near_dup"), lit(false)) && col("q_pass"), 1L)
                 .otherwise(0L)).as("n_kept"))
      .orderBy("split", "lang")
  }

  /** Per-doc lexical diversity via the Gini–Simpson index
    * 1 − Σc²/n² — the repetition metric data-curation pipelines use
    * alongside distinct-token ratio. Chosen over Shannon entropy
    * DELIBERATELY: Simpson is rational in the integer token counts
    * (Σc² and n² are exact BIGINTs; one final IEEE division), so the
    * result is bit-identical cross-engine, while entropy's Σc·ln(c)
    * inherits the engines' 1-ulp `ln` differences into an
    * order-dependent float sum. Two hash aggs over exploded tokens —
    * the standard postings shape. */
  def qTextDiversity(s: SparkSession, sf: String): DataFrame = {
    val cnt = Tables.documents(s, sf)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
    cnt.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tok"),
           count(lit(1)).as("n_distinct"),
           sum(col("c") * col("c")).as("sum_c2"))
      .withColumn("simpson",
        lit(1.0) - col("sum_c2") / (col("n_tok") * col("n_tok")).cast("double"))
      .select("doc_id", "n_tok", "n_distinct", "simpson")
      .orderBy("doc_id")
  }

  /** Rare-token rarity filter — the cheap stand-in for a perplexity
    * filter in training pipelines: docs dominated by rare tokens
    * (df ≤ 5% of docs) are flagged as likely junk. Score is pure
    * INTEGER arithmetic (1000·n_rare div n_distinct_tokens; flag at
    * ≥ 300), so the pass/fail sets are exact on both engines.
    *
    * Shape: distinct-token explode → per-token df agg (vocabulary-
    * sized — data-sized at web-corpus scale, so its broadcast back
    * into the postings join is SIZE-GATED like qTextTfidf's, on the
    * same n_docs × 150 upper bound; past the gate it's a sort-merge
    * join on `token`) → per-doc agg → per-source agg. The only
    * data-sized shuffles are the postings groupBys; the corpus size
    * rides a 1-row broadcast. */
  def qTextRarity(s: SparkSession, sf: String): DataFrame = {
    val docs = Tables.documents(s, sf)
    // the shared frame is one row per (doc, token) — exactly the
    // array_distinct explode this op used to pay for separately
    val toks = TextAnalysis.docTokenCounts(s, sf)
      .select(col("doc_id"), col("source"), col("token"))
    val df_ = toks.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nd = broadcast(docs.agg(count(lit(1)).as("nd")))
    val dfGated = Util.gatedBroadcast(s, df_,
      estRows = Tables.rowCount(s, sf, "documents") * 150)
    val perDoc = toks.join(dfGated, "token").crossJoin(nd)
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tok"),
           sum(when(col("df") * 20 <= col("nd"), 1L).otherwise(0L)).as("n_rare"))
      .withColumn("score", expr("(1000 * n_rare) div n_tok"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("score") >= 300, 1L).otherwise(0L)).as("n_flagged"),
           sum(col("score")).as("sum_score"))
      .orderBy("source")
  }

  /** Benchmark-contamination check — the train/eval hygiene step every
    * LLM training pipeline needs: for each held-out doc (md5 buckets
    * e/f, the q_sample_split test+val family), find train-split docs
    * (buckets ≤ b) sharing at least one exact word 8-gram, with the
    * worst offender (max shared grams, min doc_id tie-break).
    *
    * Shape: word 8-grams are built per doc with a SLIDING WINDOW over
    * (doc_id, pos) — posexplode + an 8-row frame — so token arrays are
    * never duplicated per shingle (the array-carry blow-up); then the
    * overlap is an INVERTED-INDEX equi-join on the gram hash: postings
    * shuffle as fixed-width (md5-hex, id) keys — md5 because the DuckDB
    * oracle has no xxhash64; an engine-only deployment would map grams
    * to 8-byte xxhash64 longs (the aDedupMinhash band-key shape) for a
    * ~4× narrower shuffle. Join cardinality is bounded by true
    * shared-gram pairs (measured: 2213 posting matches / 47 pairs
    * at sf0.1), never |test|×|train|. This is exactly the shape that
    * survives 100 TB — both sides partition by gram hash, skew is
    * bounded by the dedup'd postings, and no payload rides the join. */
  def qTextContamination(s: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // shared shingle materialization — see docGrams8: the exact join
    // and the Bloom screen read the same frame
    val grams = docGrams8(s, sf)
    val train = grams.where(col("b") <= "b")
      .select(col("doc_id").as("train_id"), col("gram")).distinct()
    val test = grams.where(col("b") > "d")
      .select(col("doc_id").as("test_id"), col("gram")).distinct()
    // consumed twice (pair agg + per-test distinct agg): localCheckpoint
    // the small matched-postings frame so the shingling + join run once
    // per invocation — per-invocation materialization, unlike persist,
    // can't leak this run's cache into a later identical plan (bench
    // min-of-2 would otherwise measure a cache read on run 2)
    // hit volume is bounded by the contaminated-gram postings; the
    // doc count is the declared gate proxy (reliable from ~sf100 up)
    val hits = test.join(train, "gram").serCheckpoint(Tables.rowCount(s, sf, "documents"))
    val pairs = hits.groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("shared"))
    val worstW = Window.partitionBy(col("test_id"))
      .orderBy(col("shared").desc, col("train_id").asc)
    val worst = pairs.withColumn("rn", row_number().over(worstW))
      .where(col("rn") === 1)
      .select(col("test_id"), col("train_id").as("worst_train_doc"),
              col("shared").as("worst_overlap"))
    hits.groupBy(col("test_id"))
      .agg(countDistinct(col("train_id")).as("n_train_docs"),
           countDistinct(col("gram")).as("n_shared_grams"))
      .join(worst, "test_id")
      .select(col("test_id").as("doc_id"), col("n_train_docs"),
              col("n_shared_grams"), col("worst_train_doc"), col("worst_overlap"))
      .orderBy("doc_id")
  }

  /** 8-gram CONTAINMENT pairs — the asymmetric near-dup relation
    * Jaccard is blind to: a short doc fully embedded in a longer one
    * has low Jaccard (union is large) but containment(A→B) =
    * |grams(A)∩grams(B)| / |grams(A)| ≈ 1. The subset-duplication
    * detector a curation pipeline runs AFTER symmetric dedup. Same
    * inverted-index shape as `q_text_contamination` (postings =
    * fixed-width (gram-md5, id) rows; join bounded by true shared
    * grams, never |docs|²), self-joined and scored ALL-INTEGER:
    * containment_pm = 1000·shared div n_a, emitted where ≥ 500. Pairs
    * are DIRECTIONAL — (a contained-in b) and (b contained-in a) are
    * distinct rows with different denominators. */
  def qTextContainment(s: SparkSession, sf: String): DataFrame = {
    // round 13: rides the shared [[docGramsDistinct]] postings (this op
    // previously rebuilt the same shingle frame privately through the
    // posexplode→window shape docGrams8 has since dropped)
    val grams = docGramsDistinct(s, sf)
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_a"))
    val a = grams.select(col("doc_id").as("a_id"), col("gram"))
    val b = grams.select(col("doc_id").as("b_id"), col("gram"))
    a.join(b, "gram").where(col("a_id") =!= col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.withColumnRenamed("doc_id", "a_id"), "a_id")
      .withColumn("containment_pm", expr("1000 * shared div n_a"))
      .where(col("containment_pm") >= 500)
      .select(col("a_id"), col("b_id"), col("n_a"), col("shared"), col("containment_pm"))
      .orderBy("a_id", "b_id")
  }

  /** Per-doc duplicated-SPAN fraction — the span-level dedup readout
    * ("what share of this doc's 8-gram spans also occur in some OTHER
    * document"), the signal span-level corpus dedup acts on. Sits
    * between exact dedup (whole-text hash) and near-dup pairs
    * (doc-level Jaccard): a doc can be pair-clean yet mostly quoted
    * boilerplate — this catches it, and it is the metric the
    * dedup-training-data literature reports. Shape: shingle window →
    * distinct (doc, gram-md5) postings → gram doc-frequency hash agg
    * (VOCABULARY-sized, so its join back into the postings is
    * SIZE-GATED like the tfidf family — past the gate it is a
    * sort-merge join on (gram, 8 B) rows) → per-doc agg. All-INTEGER
    * scoring: dup_pm = 1000·n_dup div n_spans. */
  def qTextDupSpans(s: SparkSession, sf: String): DataFrame = {
    // round 13: rides the shared [[docGramsDistinct]] postings (this op
    // previously rebuilt the same shingle frame privately through the
    // posexplode→window shape docGrams8 has since dropped)
    val grams = docGramsDistinct(s, sf)
    // postings are distinct per doc, so count(*) per gram IS its
    // doc-frequency
    val df_ = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    grams
      .join(Util.gatedBroadcast(s, df_,
              estRows = Tables.rowCount(s, sf, "documents") * 150), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
           sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_pm", expr("1000 * n_dup_spans div n_spans"))
      .orderBy("doc_id")
  }

  /** Packed bytes past which no pair pack is built. */
  private val PairPackBudget = 1536L << 20

  /** The `nPairs` rows of `pairs` as one sorted `(a<<32 | b)` long[],
    * broadcast — the probe side of [[graft.functions.PairContains]].
    * None, and the caller keeps its distributed join, when:
    *  - the pack would pass [[PairPackBudget]];
    *  - an id falls outside 0..2³¹−1 (a negative id would sign-extend
    *    through the shift and corrupt the encoding);
    *  - the frame does not hold exactly `nPairs` rows (a short or long
    *    fill would misreport adjacency).
    * The fill streams one partition at a time through `toLocalIterator`
    * (a bulk collect of sf100's 116M rows decoded the whole result at
    * once and OOM'd the driver). */
  private def pairPack(s: SparkSession, pairs: DataFrame, a: String, b: String,
                       nPairs: Long): Option[org.apache.spark.broadcast.Broadcast[Array[Long]]] =
    if (nPairs <= 0 || nPairs * 8L > PairPackBudget) None
    else {
      val bounds = pairs.agg(least(min(col(a)), min(col(b))),
                             greatest(max(col(a)), max(col(b)))).head
      if (bounds.isNullAt(0) || bounds.getLong(0) < 0L ||
          bounds.getLong(1) >= (1L << 31)) None
      else {
        import s.implicits._
        val enc = new Array[Long](nPairs.toInt)
        val it = pairs.select(shiftleft(col(a), 32).bitwiseOR(col(b)))
          .as[Long].toLocalIterator()
        var i = 0
        while (it.hasNext && i < enc.length) { enc(i) = it.next(); i += 1 }
        if (i == enc.length && !it.hasNext) {
          java.util.Arrays.sort(enc)
          Some(s.sparkContext.broadcast(enc))
        } else None
      }
    }

  /** Session-cached [[pairPack]] of the near-dup graph's canonical
    * (a<b) pairs, shared by `q_graph_linkpred` and `q_graph_2hop`:
    * their "non-adjacent only" rule was an anti-join the AGGREGATED
    * wedge candidates had to shuffle into; with the pack (+ its
    * executor-side bit pre-filter) adjacency is tested MAP-SIDE on the
    * raw wedge stream BEFORE the count/distinct aggregation — each
    * wedge row belongs to exactly one (u,w) group, so dropping adjacent
    * groups before counting is row-identical to anti-joining after. Dup
    * graphs are clique-heavy (template families), so a large share of
    * wedge mass lands on ADJACENT endpoint pairs — exactly the rows the
    * early filter deletes from the agg's hash tables and exchange. */
  private[graft] def canonicalPairPack(s: SparkSession, sf: String)
      : Option[org.apache.spark.broadcast.Broadcast[Array[Long]]] =
    SharedFrames.getOrBuild("canonicalPairPack", s, sf)(
      pairPack(s, nearDupPairGraph(s, sf), "a_id", "b_id", nearDupPairCount(s, sf)))

  /** Session-scoped triangle-triple frame: every triangle (x,y,z) of
    * the τ=0.6 near-dup graph, each exactly once, enumerated with the
    * degree-ordered "forward" orientation (Suri & Vassilvitskii,
    * "Counting Triangles and the Curse of the Last Reducer", WWW'11;
    * also Schank/Wagner's forward algorithm). Every edge is directed
    * from its lower-(degree, id)-ranked endpoint to the higher; wedges
    * form ONLY at a triangle's lowest-ranked vertex over its
    * out-neighbors, and close via the (v,w) arc. Σ outdeg² = O(|E|^1.5)
    * REGARDLESS of the degree distribution — a degree-10⁶ hub ranks
    * highest, so its edges point INTO it and it forms no wedges: the
    * id-ordered wedge join this replaces did deg(hub)² work on one
    * reducer; this shape is hub-immune by construction, with no salting
    * and exact counts. Shared by [[qGraphTriangles]] (global per-node
    * counts) and [[qGraphClustercoef]] (t(u) in the cc formula) — one
    * enumeration, two readouts, in one [[graft.SharedFrames]] entry. */
  private def orientedTriangleTriples(s: SparkSession, sf: String): DataFrame = {
    // pairs ride the session-cached nearDupPairGraph checkpoint — the
    // select needs no materialization of its own
    val pairs = nearDupPairGraph(s, sf).select(col("a_id"), col("b_id"))
    // Past the wide gate the triple frame is NOT materialized (r5 sf100
    // slot: the checkpoint of the triple stream is where the clique
    // skew lands — one low-rank corner of a big template family holds
    // outdeg² triples, and serializing that partition OOMs regardless
    // of exchange widths). Both consumers aggregate the stream
    // immediately (per-doc counts / t(u)), so at scale the triples
    // FLOW from the wedge filter into a partial hash agg bounded by
    // |docs| keys and nothing O(#triangles) ever persists. The cache +
    // checkpoint (one enumeration, two readouts) stays the
    // fixture..sf1 posture where the frame is small and shared.
    // MEMOIZED measurement (round-10 review): the Σd² wedge bound is a
    // property of the (session, sfDir) pair graph, like its row count,
    // but the gate ran it as a fresh job on EVERY call — each triangle
    // consumer paid a full degree aggregation before reaching the
    // triple cache it was about to hit. The gate CONFS (wideEdges /
    // maxWedgeBound) stay outside the cache so forced-path tests still
    // flip the route; past 64M pairs the deg agg is skipped (bound :=
    // MaxValue — any sane maxWedgeBound is already exceeded).
    val nPairs = nearDupPairCount(s, sf)
    val wedgeBoundB: Long = SharedFrames.getOrBuild("wedgeBound", s, sf) {
      if (nPairs > 64000000L) Long.MaxValue else {
        val deg = directedEdges(pairs).groupBy("u").agg(count(lit(1)).as("d"))
        // DECIMAL(38,0): a hub-heavy graph's Σd² can overflow BIGINT,
        // and a wrapped-negative bound would flip the gate the WRONG
        // way (negative > maxWedges is false → materialize the frame
        // the gate exists to avoid). Null (empty graph) ⇒ bound 0.
        val w = deg.agg(sum(expr("CAST(d AS DECIMAL(38,0)) * d"))
          .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)))
          .head.getDecimal(0)
        if (w == null) 0L
        else if (w.compareTo(java.math.BigDecimal.valueOf(Long.MaxValue)) > 0) Long.MaxValue
        else w.longValue()
      }
    }
    val wide = wideTriangles(s, nPairs)
    // triple VOLUME is clique-driven, not pair-driven (a k-clique
    // family emits k³ triples from k² pairs — triples ≈ pairs^1.5 on
    // dup graphs), so the pair-count gate alone under-reads it: sf1's
    // 1.58M pairs hold a 44M-row triple frame whose fat-partition
    // checkpoint heap-OOM'd an 8 GiB executor (round 10). The wedge
    // bound Σ deg² — one agg over the cached pair frame — is computable
    // BEFORE enumerating and caps the triple count; past
    // `graft.graph.maxWedgeBound` (100M) the triples FLOW into each
    // consumer's aggregate without ever materializing, exactly the
    // wide-path posture (the cache trades one repeat enumeration for
    // never holding an O(#triangles) frame).
    val wedgeBound = if (wide) Long.MaxValue else wedgeBoundB
    val maxWedges = s.conf.getOption("graft.graph.maxWedgeBound")
      .map(_.toLong).getOrElse(100000000L)
    if (wide || wedgeBound > maxWedges) orientTriangles(s, pairs)
    else SharedFrames.getOrBuild("triangles", s, sf)(orientTriangles(s, pairs).serCheckpoint())
  }

  /** Whether the triangle family takes its wide path: past
    * `graft.graph.wideEdges` pairs (default 4M; PropertySpec sets 0 to
    * force it onto the fixture). */
  private def wideTriangles(s: SparkSession, nPairs: Long): Boolean =
    nPairs > s.conf.getOption("graft.graph.wideEdges").map(_.toLong).getOrElse(4000000L)

  /** The forward-orientation enumeration itself, over any canonical
    * (a_id < b_id) undirected pair list — separated from the cache so
    * PropertySpec can drive it with a synthetic hub graph. */
  private[graft] def orientTriangles(s: SparkSession, pairs: DataFrame): DataFrame = {
    val nPairs = pairs.count()
    // one-live-join budget: on the non-wide path the closing-edge
    // semi join MUST build-broadcast the arc set — un-hinted, the wedge
    // stream (Σ outdeg², the only super-linear frame here) would SORT
    // into a merge join, the exact r2 ANN cliff (observed at sf1 once honest checkpoint stats
    // stopped the accidental auto-broadcast). 256 MiB covers the whole
    // non-wide regime by construction: the wide gate caps this path at
    // 4M pairs ≈ 192 MiB of build side; past it the packed/semi-shuffle
    // wide rungs take over.
    def bc(df: DataFrame): DataFrame =
      Util.gatedBroadcast(s, df, nPairs, budgetBytes = 256L << 20)
    // Past the broadcast gate every join exchange here defaults to the
    // session shuffle width (core count) — at sf100's 116M-edge graph
    // that leaves the arc/triple checkpoints as 32 ~240 MB serialized
    // blocks, and BlockManager.maybeCacheDiskBytesInMemory re-reads a
    // disk-evicted block as ONE buffer of that size per task (16
    // concurrent ⇒ heap OOM, the round-9 sf100 slot failure). Data-size
    // the arc and wedge exchanges instead; fixture..sf1 plans are
    // untouched (gate > 4M edges).
    val wide = wideTriangles(s, nPairs)
    val wideParts = math.max(64, math.min(8192, (nPairs / 500000L).toInt))
    val edges = directedEdges(pairs)
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
    // decorate both endpoints, orient low rank → high rank; rank =
    // (degree, id) — a strict total order, so each undirected edge
    // yields exactly one arc and each triangle exactly one wedge
    val dec = pairs
      .join(bc(deg.select(col("u").as("a_id"), col("d").as("da"))), "a_id")
      .join(bc(deg.select(col("u").as("b_id"), col("d").as("db"))), "b_id")
    val aLow = col("da") < col("db") ||
      (col("da") === col("db") && col("a_id") < col("b_id"))
    val arcsBase = dec.select(
        when(aLow, col("a_id")).otherwise(col("b_id")).as("src"),
        when(aLow, col("b_id")).otherwise(col("a_id")).as("dst"),
        when(aLow, col("db")).otherwise(col("da")).as("ddst"))
    // wide: pre-hash arcs on src so the wedge self-join below reuses
    // the partitioning (both sides arcs-derived — zero extra exchange)
    // and checkpoint blocks stay ≤ ~20 MB
    val arcs = (if (wide) arcsBase.repartition(wideParts, col("src")) else arcsBase)
      .serCheckpoint(nPairs)
    // wedges at the lowest-ranked vertex: ordered out-neighbor pairs
    val w1 = arcs.select(col("src"), col("dst").as("v"), col("ddst").as("dv"))
    val w2 = arcs.select(col("src"), col("dst").as("w"), col("ddst").as("dw"))
    val wedges = w1.join(bc(w2), "src")
      .where(col("dv") < col("dw") ||
             (col("dv") === col("dw") && col("v") < col("w")))
    // Closing-edge test. Wide graphs (r3 sf100 slot): the wedge stream
    // (Σ outdeg², O(|E|^1.5) — ~100s of GB at sf100) cannot SHUFFLE
    // into a semi join on one box's disks, and with arcs pre-hashed on
    // src the wedge join itself needs no exchange — so the closing
    // edge becomes a packed-broadcast MAP-SIDE filter instead: arcs
    // encoded into one sorted long[] ([[pairPack]], ~1 GB at sf100),
    // binary-searched per wedge by `graft_pair_contains`. The wedge
    // stream then never shuffles at all. A graph the pack refuses
    // falls back to the distributed semi join — the shape a real
    // cluster's aggregate disk runs anyway. Fixture..sf1 keep the
    // historical broadcast semi join (plan-pinned).
    val packedClose = if (wide) pairPack(s, arcs, "src", "dst", nPairs) else None
    val closed = packedClose match {
      case Some(bcEnc) =>
        wedges.where(
          graft.functions.VectorExpressions.pairContains(col("v"), col("w"), bcEnc))
      case None =>
        (if (wide) wedges.repartition(wideParts, col("v"), col("w")) else wedges)
          .join(bc(arcs.select(col("src").as("v"), col("dst").as("w"))),
                Seq("v", "w"), "left_semi")
    }
    closed.select(col("src").as("x"), col("v").as("y"), col("w").as("z"))
  }

  /** Triangle counting over the τ=0.6 near-dup pair graph — the graph
    * metric that separates CLIQUE-like duplication (template families:
    * every pair similar → triangles everywhere) from CHAIN-like drift
    * (A≈B≈C but A≉C → zero triangles), which decides whether
    * cluster-representative picking is safe. Per-node participation
    * counts over [[orientedTriangleTriples]], which holds every
    * triangle exactly once (no /3 or /6 correction); ALL-INTEGER. */
  def qGraphTriangles(s: SparkSession, sf: String): DataFrame =
    orientedTriangleTriples(s, sf)
      .select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")

  /** PageRank over the near-dup pair graph — graph analytics on the
    * corpus: rank ∝ how centrally a doc sits in its duplication
    * neighborhood (the canonical-representative picker that beats
    * min-id when cluster quality matters). ALL-INTEGER fixed point:
    * ranks are 1e6-scaled longs, each of the FIXED 5 iterations is
    * `150000 + (850000 · Σ(r_u div deg_u)) div 1e6` — integer div
    * mirrored on both engines, zero float accumulation. The edge set
    * is the τ=0.6 Jaccard pair graph ([[qDedupJaccard]] — already
    * oracle-verified equal to the oracle's own pair derivation).
    * A round reads only a node's in-neighbours, so each connected
    * component iterates on its own in one task ([[Util.perComponent]]);
    * the sum and product overflow-check as ANSI SQL's BIGINT does. */
  def qGraphPagerank(s: SparkSession, sf: String): DataFrame =
    graphPagerank(nearDupPairGraph(s, sf), nearDupPairCount(s, sf)).orderBy("doc_id")

  /** [[qGraphPagerank]]'s unordered rows over any pair list. */
  private[graft] def graphPagerank(pairs: DataFrame, nPairs: Long): DataFrame =
    Util.perComponent(pairs, nPairs)(pagerank5).toDF("doc_id", "rank_fp")

  private def pagerank5(a: Array[Long], b: Array[Long]): Iterator[(Long, Long)] = {
    val g = Util.LocalGraph(a, b)
    val r = (1 to 5).foldLeft(Array.fill(g.n)(1000000L)) { (prev, _) =>
      Array.tabulate(g.n) { v =>
        val m = (g.off(v) until g.off(v + 1)).map(g.nbr)
          .foldLeft(0L)((acc, u) => Math.addExact(acc, prev(u) / g.deg(u)))
        150000L + Math.multiplyExact(850000L, m) / 1000000L
      }
    }
    Iterator.range(0, g.n).map(i => (g.ids(i), r(i)))
  }
}
