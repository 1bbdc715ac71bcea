package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.Det.r4d
import graft.functions.ArrayDot

/** §2.9 Text analysis & deduplication (SURVEY.md) — the LLM-data-pipeline
  * operators over `documents`.
  *
  * Scale design: tokenization is per-row (no shuffle); frequency ops are
  * one hash-agg each. Exact near-dup Jaccard uses the token inverted
  * index (explode → self-join on token → pair-intersection counts) —
  * O(pairs-sharing-a-token), bounded here to doc_id < 1000 because this
  * corpus' 31-word vocabulary makes *every* pair share tokens; the 100 TB
  * path is `dedup_minhash_lsh`, whose cost is O(docs × bands) shuffle
  * with exact verification only on LSH candidates.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The incremental-dedup family's corpus (cap 1000, distinct tokens). */
  private def incrDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") < 1000)
      .select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("toks"))

  /** Build-once persisted state for the incremental dedup family
    * (§2.207/§2.212): the already-crawled base corpus' (doc_id % 10
    * ≠ 0) LSH band index, exact pair table, and canon labels — three
    * VersionedTables under one scratch root. Returns (idxRoot,
    * pairRoot, labelRoot). Idempotent: a complete state is reused, a
    * partial one (crashed build) is dropped and rebuilt whole. */
  private def incrDedupState(s: SparkSession, dir: String)
      : (String, String, String) = {
    import graft.sources.VersionedTable
    val root = s"${ScanQueries.scratch(s, dir)}/incr_dedup"
    val idxRoot = s"$root/band_index"
    val pairRoot = s"$root/base_pairs"
    val labelRoot = s"$root/base_labels"
    if (VersionedTable.latestVersion(idxRoot) < 0
        || VersionedTable.latestVersion(pairRoot) < 0
        || VersionedTable.latestVersion(labelRoot) < 0) {
      ScanQueries.deleteRecursively(new java.io.File(root))
      val base = incrDocs(s, dir)
        .filter(pmod(col("doc_id"), lit(10)) =!= 0)
      VersionedTable.commit(s, idxRoot,
        SimilarityJoin.minhashBandIndex(base), "overwrite")
      VersionedTable.commit(s, pairRoot,
        SimilarityJoin.minhash(base, "doc_id", "toks",
          threshold = 0.8, numHashes = 32, bands = 16), "overwrite")
      VersionedTable.commit(s, labelRoot,
        ConnectedComponents.canonLabels(base.select(col("doc_id")),
          VersionedTable.readLatest(s, pairRoot)
            .select(col("doc_i"), col("doc_j"))), "overwrite")
    }
    (idxRoot, pairRoot, labelRoot)
  }

  /** The incremental step shared by §2.207/§2.212: sign ONLY the new
    * crawl shard (doc_id % 10 = 0), append its triples to the stored
    * index (first run only — idempotent), equi-join delta triples
    * against the index (the appended index contains the delta too, so
    * delta-delta pairs surface through the same single join; i ≠ j +
    * least/greatest + distinct normalizes both orientations), and
    * exact-verify candidates against token sets. */
  private def incrDeltaPairs(s: SparkSession, dir: String,
      idxRoot: String): DataFrame = {
    import graft.sources.VersionedTable
    val docs = incrDocs(s, dir)
    val delta = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val deltaIdx = SimilarityJoin.minhashBandIndex(delta)
    if (VersionedTable.latestVersion(idxRoot) == 0L)
      VersionedTable.commit(s, idxRoot, deltaIdx, "append")
    val index = VersionedTable.readLatest(s, idxRoot)
    val cand = deltaIdx.select(col("band"), col("bh"), col("doc_id").as("a"))
      .join(index.select(col("band"), col("bh"), col("doc_id").as("b")),
        Seq("band", "bh"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("i"),
        greatest(col("a"), col("b")).as("j"))
      .distinct()
    SimilarityJoin.verify(cand,
      docs.select(col("doc_id"), array_sort(col("toks")).as("toks")), 0.8)
  }

  /** Exact pairwise token-set Jaccard for doc_id < `cap`, threshold `th`. */
  private def exactJaccard(s: SparkSession, dir: String, cap: Int, th: Double): DataFrame =
    Jaccard.pairs(
      graft.Tables.docs(s, dir).filter(col("doc_id") < cap)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok")),
      th)

  val queries: Map[String, Q] = Map(
    "text_token_counts" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy("token")
    }),

    "text_doc_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          r4d(sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          r4d(sum(size(split(col("text"), " ")).cast("long")).cast("double")
            / count(lit(1))).as("avg_tokens"))
        .orderBy("lang")
    }),

    // Heavy hitters by DOCUMENT frequency (stopword / boilerplate-token
    // mining — the corpus-statistics input to the §2.13 quality stack):
    // tokens present in > 25% of documents, with their doc counts and
    // corpus-wide share. Per-doc distinct explode (map-side) → one
    // token-keyed count — the exact two-phase-agg form; the map-side
    // partial bounds shuffle rows by |vocab| per partition, so at
    // 100 TB this is one narrow-shuffle pass regardless of corpus
    // size. The doc-count denominator is a one-row broadcast agg.
    "text_heavy_hitters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      docs.select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n_docs_with"))
        .crossJoin(broadcast(nDocs))
        .filter(col("n_docs_with") * 4 > col("n_docs"))
        .select(col("token"), col("n_docs_with"),
          r4d(col("n_docs_with").cast("double") / col("n_docs")).as("doc_frac"))
        .orderBy("token")
    }),

    // Bigrams via an index-HOF over the token array — no per-doc shuffle.
    "text_ngrams" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))"))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy("bigram")
    }),

    "text_tf" -> ((s, dir) => {
      val cnt = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
      cnt.withColumn("total", sum(col("cnt")).over(Window.partitionBy("doc_id")))
        .select(col("doc_id"), col("token"), col("cnt"),
          r4d(col("cnt") / col("total")).as("tf"))
        .orderBy("doc_id", "token")
    }),

    // tf-idf with idf = ln(N/df); top term per doc, ties → token asc.
    // The per-doc argmax runs through TopKPerGroup (k=1): the bounded
    // heap ships one row per (doc × partition) into the exchange, and
    // with k=1 each group's surviving row IS rank 1 — no window pass.
    "text_tfidf_topterm" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cnt = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
      val tf = cnt.withColumn("total",
        sum(col("cnt")).over(Window.partitionBy("doc_id")))
        .withColumn("tf", col("cnt") / col("total"))
      val dfreq = cnt.groupBy("token").agg(count(lit(1)).as("df"))
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "token").crossJoin(broadcast(nd))
        .select(col("doc_id"), col("token"),
          (col("tf") * log(col("n_docs") / col("df"))).as("score"))
      graft.plans.TopKPerGroup(scored, k = 1, partNames = Seq("doc_id"),
          orderSpec = Seq(("score", false), ("token", true)))
        .select(col("doc_id"), col("token"), r4d(col("score")).as("score"))
        .orderBy("doc_id")
    }),

    // BM25 RANKED RETRIEVAL (§2.89) — Okapi BM25 (k1=1.2, b=0.75,
    // Lucene's ln(1 + (N−df+½)/(df+½)) idf) of every document against
    // a 3-term query, top-20 docs per term. The full-text relevance
    // scorer of the curation stack (tf-idf's retrieval-grade sibling:
    // tf saturates at k1+1 and long docs are penalized through
    // dl/avgdl). Every input is an exact integer (tf, dl, df, N) or
    // one broadcast scalar (avgdl = Σdl/N, a single IEEE division),
    // so each (doc, term) score is one deterministic double
    // expression — no double is ever summed. Shape: one (doc, token)
    // hash-agg + one doc-length agg, a 3-row broadcast df join, and
    // the per-term top-20 through TopKPerGroup's bounded heap (one
    // surviving row per group × partition enters the exchange) —
    // rank on the RAW score (IEEE-identical across engines), round
    // only the reported value.
    "text_bm25" -> ((s, dir) => {
      val qterms = Seq("merge", "window", "spark")
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val tfd = tok.filter(col("token").isin(qterms: _*))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfq = tfd.groupBy("token").agg(count(lit(1)).as("df"))
      val nstats = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl"))
      val scored = tfd.join(dl, Seq("doc_id"))
        .join(broadcast(dfq), Seq("token"))
        .crossJoin(broadcast(nstats))
        .withColumn("idf", log(lit(1.0)
          + (col("n_docs") - col("df") + lit(0.5)).cast("double")
            / (col("df") + lit(0.5)).cast("double")))
        .withColumn("score", col("idf")
          * (col("tf").cast("double") * lit(2.2))
          / (col("tf").cast("double") + lit(1.2)
            * (lit(0.25) + lit(0.75) * col("dl").cast("double")
              / (col("sum_dl").cast("double")
                / col("n_docs").cast("double")))))
      graft.plans.TopKPerGroup(
          scored.select(col("token"), col("doc_id"), col("tf"),
            col("dl"), col("score")),
          k = 20, partNames = Seq("token"),
          orderSpec = Seq(("score", false), ("doc_id", true)))
        .orderBy(col("token"), col("score").desc, col("doc_id"))
        .select(col("token"), col("doc_id"), col("tf"), col("dl"),
          r4d(col("score")).as("bm25"))
    }),

    // Exact duplicate groups on the canonical token-set fingerprint (the
    // raw corpus has zero byte-identical dups; normalization finds real
    // content-equal groups).
    "dedup_exact_text" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))
            .as("h"))
        .groupBy("h")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canon_doc"))
        .filter(col("n_docs") > 1)
        .orderBy("h")
    }),

    "dedup_near_jaccard" -> ((s, dir) =>
      exactJaccard(s, dir, 1000, 0.8).orderBy("doc_i", "doc_j")),

    // END-TO-END DEDUP→PACK PIPELINE (§2.203) — the whole curation
    // chain a pretraining pipeline runs between raw corpus and
    // training sequences, composed in ONE declared plan from the
    // engine's own operators: MinHash-LSH near-dup pairs
    // (SimilarityJoin.minhash, output == the exact J ≥ 0.8 table) →
    // connected-component survivor selection (ConnectedComponents
    // .canonLabels, canonical = min doc_id) → fixed-budget sequence
    // packing of the SURVIVORS (GlobalRank.runningSum — the two-pass
    // range-exchange prefix sum, never a single-partition window).
    // Shuffle economy at 100 TB: the corpus is scanned once for
    // signatures and once for token counts; the pair/label stages
    // shuffle only edge-sized data (|pairs| ≪ |docs|), the survivor
    // join is doc_id-keyed, and the pack's prefix sum is the same
    // two-pass exchange the standalone pack key pays — nothing
    // re-shuffles the full token stream. Oracle: exact-Jaccard pairs
    // + recursive-CTE components + the same window prefix sum.
    "pipeline_dedup_pack_e2e" -> ((s, dir) => {
      val budget = 2048L
      val docs = graft.Tables.docs(s, dir).filter(col("doc_id") < 1000)
        .select(col("doc_id"),
          array_distinct(split(col("text"), " ")).as("toks"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val pairs = SimilarityJoin.minhash(
          docs.select(col("doc_id"), col("toks")),
          "doc_id", "toks", threshold = 0.8, numHashes = 32, bands = 16)
        .select(col("doc_i"), col("doc_j"))
      val labels = ConnectedComponents.canonLabels(
        docs.select(col("doc_id")), pairs)
      val survivors = docs.join(labels, Seq("doc_id"))
        .filter(col("canon") === col("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          md5(col("doc_id").cast("string").cast("binary")).as("skey"))
      graft.plans.GlobalRank.runningSum(
          survivors, Seq(col("skey"), col("doc_id")), Seq("n_tokens"),
          Seq("cum"))
        .select(col("doc_id"), col("n_tokens"),
          (col("cum") - col("n_tokens")).as("start_off"),
          expr(s"(cum - n_tokens) div ${budget}L").as("bin"))
        .orderBy("doc_id")
    }),

    // DEDUP RATE BY LENGTH (§2.195) — are duplicates a short-doc
    // phenomenon? Per token-length band (20-token bins, clamped),
    // the share of documents that are NON-canonical members of an
    // exact set-signature duplicate group (the dedup_exact_text
    // key). Short-doc-concentrated dup mass argues for a length
    // floor before the expensive near-dup pass. Exact integers,
    // one group reduce + one keyed reduce.
    "dedup_rate_by_length" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ntok"),
          md5(concat_ws(" ",
            array_sort(array_distinct(split(col("text"), " ")))))
            .as("h"))
      val canon = d.groupBy("h")
        .agg(min(col("doc_id")).as("canon_doc"))
      d.join(canon, Seq("h"))
        .select(least(expr("ntok div 20"), lit(4L)).as("band"),
          (col("doc_id") =!= col("canon_doc")).cast("long")
            .as("is_dup"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("is_dup")).as("n_dups"))
        .select(col("band"), (col("band") * 20).as("band_lo_tokens"),
          col("n_docs"), col("n_dups"),
          r4d(col("n_dups").cast("double")
            / col("n_docs").cast("double")).as("dup_share"))
        .orderBy("band")
    }),

    // SIMILARITY HISTOGRAM (§2.190) — the threshold-tuning view over
    // the exact near-dup pair table: Jaccard similarities of all
    // capped exact pairs ≥ 0.7, banded into 0.05-wide buckets
    // (floor(jac·20) — exact on the rational grid both engines
    // compute identically). A mass piled at 0.70-0.75 means the
    // threshold sits mid-cluster and should move; mass at 0.95+
    // means near-identical boilerplate. One reduce over the pair
    // table.
    "dedup_similarity_histogram" -> ((s, dir) => {
      exactJaccard(s, dir, 1000, 0.7)
        .select(least(floor(col("jac") * 20).cast("long"), lit(19L))
          .as("band"))
        .groupBy("band").agg(count(lit(1)).as("n_pairs"))
        .select(col("band"),
          r4d(col("band").cast("double") / 20.0).as("band_lo"),
          col("n_pairs"))
        .orderBy("band")
    }),

    // SORTED-NEIGHBORHOOD DEDUP (§2.183) — the classic SNM blocking
    // method the LSH keys don't cover: sort the corpus ONCE by a
    // compact blocking key (first 32 chars of the sorted-distinct-
    // token signature — near-dups share early vocabulary, so they
    // sort adjacently), slide a w=5 window over the global rank, and
    // exact-verify token-set Jaccard ≥ 0.7 only on in-window pairs.
    // Candidates are ≤ 4·n by construction (data-independent, the
    // SNM guarantee), vs LSH's threshold-dependent bound — the
    // method of choice when near-dup similarity is high and sortable.
    // Global rank via GlobalRank's distributed prefix sums (no
    // single-partition window); probes explode map-side.
    "dedup_sorted_neighborhood" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          array_sort(array_distinct(split(col("text"), " ")))
            .as("toks"))
        .withColumn("skey",
          substring(concat_ws(" ", col("toks")), 1, 32))
        .withColumn("one", lit(1L))
      val ranked = graft.plans.GlobalRank.runningSum(
        d, Seq(col("skey"), col("doc_id")), Seq("one"), Seq("rn"))
      val probes = ranked.select(col("rn"), col("doc_id"),
          col("toks"))
        .withColumn("prn", explode(expr("sequence(rn + 1, rn + 4)")))
      val cand = probes.join(
        ranked.select(col("rn").as("prn"), col("doc_id").as("dj0"),
          col("toks").as("toksj")), Seq("prn"))
      cand.select(
          least(col("doc_id"), col("dj0")).as("doc_i"),
          greatest(col("doc_id"), col("dj0")).as("doc_j"),
          (size(array_intersect(col("toks"), col("toksj")))
            .cast("double")
            / size(array_union(col("toks"), col("toksj")))
              .cast("double")).as("jac"))
        .filter(col("jac") >= 0.7)
        .select(col("doc_i"), col("doc_j"), r4d(col("jac")).as("jac"))
        .orderBy("doc_i", "doc_j")
    }),

    // DEDUP TIER REPORT (§2.170) — the three-tier duplicate audit a
    // corpus card needs BEFORE choosing a dedup strategy: per source,
    // distinct counts at each canonicalization tier — raw string
    // (exact dups), sorted token multiset (reorder-only dups: same
    // words, same multiplicities, different order), sorted distinct
    // token set (multiplicity-only dups — dedup_exact_text's key).
    // The tier deltas quantify how much each cheaper pass would
    // remove. Exact integers; canonicalization is map-side string
    // work; one reduce with three distinct-aggregates over the
    // bounded source grid.
    "dedup_tier_report" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), col("text"),
          concat_ws(" ", array_sort(split(col("text"), " ")))
            .as("bag"),
          concat_ws(" ",
            array_sort(array_distinct(split(col("text"), " "))))
            .as("tokset"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_unique_texts"),
          countDistinct(col("bag")).as("n_unique_bags"),
          countDistinct(col("tokset")).as("n_unique_sets"))
        .select(col("source"), col("n_docs"), col("n_unique_texts"),
          col("n_unique_bags"), col("n_unique_sets"),
          (col("n_docs") - col("n_unique_texts")).as("n_exact_dups"),
          (col("n_unique_texts") - col("n_unique_bags"))
            .as("n_reorder_dups"),
          (col("n_unique_bags") - col("n_unique_sets"))
            .as("n_multiplicity_dups"))
        .orderBy("source")
    }),

    // DUPLICATE-CLUSTER SIZE HISTOGRAM (§2.153) — the corpus-health
    // readout over dedup_exact_text's clusters: how many clusters of
    // each size, and what share of the corpus sits in them (a corpus
    // that is 40% size-≥10 clusters needs dedup BEFORE training; one
    // that is 98% singletons doesn't). Same token-set md5 canonical
    // key as the dedup key (order/multiplicity-insensitive),
    // INCLUDING singletons — they are the denominator. Two keyed
    // reduces; the histogram is ≤ max-cluster-size rows.
    "dedup_cluster_size_hist" -> ((s, dir) => {
      val cl = t(s, dir, "documents")
        .select(col("doc_id"),
          md5(concat_ws(" ",
            array_sort(array_distinct(split(col("text"), " ")))))
            .as("h"))
        .groupBy("h").agg(count(lit(1)).as("sz"))
      val tot = cl.agg(sum(col("sz")).as("n_docs_total"))
      cl.groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .crossJoin(broadcast(tot))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          r4d((col("cluster_size") * col("n_clusters")).cast("double")
            / col("n_docs_total").cast("double")).as("share_of_corpus"))
        .orderBy("cluster_size")
    }),

    // KL DIVERGENCE PER SOURCE (§2.153) — the asymmetric companion of
    // text_js_drift's symmetric JS: KL(source ‖ corpus) in bits —
    // "how many extra bits to encode this source with the corpus
    // code" — the source-skew ranking signal mixture tuning reads
    // (JS saturates at 1; KL keeps separating heavy drifters). q > 0
    // for every source token by construction (source ⊂ corpus), so
    // no smoothing term is needed. Counts exact; the log2 terms are
    // irrational and sum in double like the js/perplexity keys,
    // r4d at the edge.
    "text_kl_divergence" -> ((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
      val glob = tok.groupBy("token").agg(count(lit(1)).as("cg"))
      val nGlob = tok.agg(count(lit(1)).as("ng"))
      val src = tok.groupBy("source", "token").agg(count(lit(1)).as("cs"))
      val nSrc = tok.groupBy("source").agg(count(lit(1)).as("ns"))
      src.join(broadcast(glob), Seq("token"))
        .join(broadcast(nSrc), Seq("source"))
        .crossJoin(broadcast(nGlob))
        .select(col("source"), col("ns"),
          (col("cs").cast("double") / col("ns").cast("double")).as("p"),
          (col("cg").cast("double") / col("ng").cast("double")).as("q"))
        .groupBy("source")
        .agg(first(col("ns")).as("n_tokens"),
          sum(col("p") * log2(col("p") / col("q"))).as("kl"))
        .select(col("source"), col("n_tokens"),
          r4d(col("kl")).as("kl_bits"))
        .orderBy("source")
    }),

    // The survivor-selection half of a dedup pipeline: connected
    // components over the J ≥ 0.8 pair graph, canonical doc = min id in
    // the component. Runs through the shared ConnectedComponents
    // operator: per-partition union-find contracts the graph first, the
    // min-label loop touches ONLY edge-incident docs (isolated docs —
    // the majority — bypass it), and loop-state partitioning follows
    // |edges| instead of spark.sql.shuffle.partitions, so fixture-scale
    // supersteps are single-task and the fixpoint arrives in one
    // verification round.
    "dedup_cluster_canon" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
        .select(col("doc_id"))
      val pairs = exactJaccard(s, dir, 1000, 0.8)
        .select(col("doc_i"), col("doc_j"))
      ConnectedComponents.canonLabels(docs, pairs).orderBy("doc_id")
    }),

    // MinHash (k=32, seeded murmur3) + banded LSH (16 bands × 2 rows →
    // recall ≈ 1 − (1 − J²)¹⁶, ~0.9999999 at J = 0.8), candidates then
    // verified with exact Jaccard — so the output equals the exact
    // pair table and the exact DuckDB oracle applies verbatim (round
    // 16; a banding recall miss = a missing row = driver hash fail).
    // PropertySpec additionally pins output == dedup_near_jaccard.
    "dedup_minhash_lsh" -> ((s, dir) => {
      val docs = graft.Tables.docs(s, dir).filter(col("doc_id") < 1000)
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
      // Declares through the public SimilarityJoin surface: scan-side
      // MinHashSig (k=32), 16×2 banding with narrow (doc_id, band, hash)
      // triples through the candidate shuffle, exact SortedIntersectCount
      // verification, keyed (not hint-broadcast) array re-join. See
      // SimilarityJoin.scala for the 100 TB plan-shape rationale.
      SimilarityJoin.minhash(docs, "doc_id", "toks",
          threshold = 0.8, numHashes = 32, bands = 16)
        .orderBy("doc_i", "doc_j")
    }),

    // INCREMENTAL CORPUS-INDEX DEDUP (§2.207) — the between-crawls form
    // of dedup_minhash_lsh: the already-crawled corpus' LSH band index
    // (SimilarityJoin.minhashBandIndex's narrow (doc_id, band, bh)
    // triples) and its already-found pair table PERSIST as
    // VersionedTable commits; a new crawl shard (doc_id % 10 = 0 here)
    // is signed ALONE and equi-joined against the stored index, new
    // candidates are exact-verified against token sets, and the output
    // unions stored pairs + new pairs. That is the 100 TB deployment
    // shape: per-crawl cost is O(|delta| · bands) signing + one
    // index-keyed join, NOT a corpus re-sign — the index table is the
    // state, snapshot-isolated and time-travelable like any
    // VersionedTable. Equals the batch path on the union (banding
    // recall ≈ 1 at J ≥ 0.8 as for dedup_minhash_lsh), so the exact
    // all-pairs DuckDB oracle applies verbatim; DedupScaleSpec pins
    // incremental ≡ full-recompute row parity.
    //
    // Idempotent scratch builds (bench runs keys repeatedly): base
    // state builds once per application; the delta append commits only
    // while the index is still at v0, so reruns read the same v1.
    "dedup_incremental_index" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val (idxRoot, pairRoot, _) = incrDedupState(s, dir)
      VersionedTable.readLatest(s, pairRoot)
        .unionByName(incrDeltaPairs(s, dir, idxRoot))
        .orderBy("doc_i", "doc_j")
    }),

    // INCREMENTAL CLUSTER MAINTENANCE (§2.212) — the step AFTER
    // incremental pair discovery: the base corpus' canon labels (its
    // connected components) persist as a VersionedTable; a new crawl
    // merges in WITHOUT re-clustering the corpus by running CC over
    // the stored labels' STAR EDGES (doc → canon, one edge per
    // non-root doc — connectivity-equivalent to the full base pair
    // set) plus only the delta's new pairs. Edge count drops from
    // O(base pairs) to O(base docs + delta pairs), and pointer
    // jumping from a star forest converges in ~1 round instead of
    // O(component diameter) — the two costs that matter when the
    // stored corpus is 100 TB and the crawl is 0.1%. Output ≡ the
    // full recompute (DedupScaleSpec-pinned), so the recursive-CTE
    // oracle of dedup_cluster_canon applies verbatim.
    "dedup_incremental_cluster" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val (idxRoot, _, labelRoot) = incrDedupState(s, dir)
      val starEdges = VersionedTable.readLatest(s, labelRoot)
        .filter(col("doc_id") =!= col("canon"))
        .select(col("doc_id"), col("canon"))
      val deltaEdges = incrDeltaPairs(s, dir, idxRoot)
        .select(col("doc_i"), col("doc_j"))
      ConnectedComponents.canonLabels(
          incrDocs(s, dir).select(col("doc_id")),
          starEdges.unionByName(deltaEdges.toDF("doc_id", "canon")))
        .orderBy("doc_id")
    }),

    // BPE PAIR COUNTS — the inner loop of byte-pair-encoding tokenizer
    // training: the corpus-weighted frequency of every adjacent
    // character pair, whose argmax is the first merge rule. The scale
    // move is the dedup_edit_distance dictionary trick: count WORDS
    // first (one token-keyed two-phase agg over the corpus — the only
    // corpus-sized shuffle), then explode character pairs over the
    // DISTINCT-word dictionary (vocabulary-sized, not corpus-sized) and
    // weight each pair by its word's count. A 100 TB corpus with a
    // 10⁷-word vocabulary pays the pair explosion on 10⁷ rows, not
    // 10¹³. Pairs via an index HOF in the scan stage (the text_ngrams
    // device); full total order (n desc, pair) — no limit, the pair
    // alphabet is bounded.
    "text_bpe_pair_counts" -> ((s, dir) => {
      val wc = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("wn"))
      wc.select(col("wn"), explode(expr(
          "transform(sequence(1, length(word) - 1), " +
            "i -> substring(word, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum(col("wn")).as("n"))
        .orderBy(col("n").desc, col("pair"))
    }),

    // UNICODE NFC NORMALIZATION (§2.29) — the canonical-composition
    // pass that must run BEFORE any byte-level dedup: crawled corpora
    // mix precomposed ("é" U+00E9) and decomposed ("e"+U+0301)
    // encodings of the same text, and md5 fingerprints / exact-hash
    // groups / substring spans treat them as different documents. The
    // fixture corpus is pure ASCII, so the mixed plane is SYNTHESIZED
    // deterministically (even doc_ids get a decomposed prefix, odd the
    // precomposed same text — both branches live at every SF; the
    // pii_scrub injection convention). After NFC the two prefixes are
    // byte-identical, so even/odd docs with equal text converge to the
    // same norm_fp — exactly the dedup-repair this op exists for.
    //
    // Engine surface: graft.functions.NfcNormalize, a native codegen
    // Expression (a UDF here would break whole-stage codegen and box
    // every row of a 100 TB scan); its isNormalized fast path makes
    // the pass ~free on the ASCII majority. Pure scan-stage map work —
    // zero computation shuffle.
    "text_unicode_normalize" -> ((s, dir) => {
      // The two literals RENDER identically but differ in bytes: the
      // even branch is decomposed (e + U+0301 combining acute), the
      // odd branch precomposed (U+00E9) — NFC composes both to the
      // same bytes.
      val mixed = t(s, dir, "documents").select(col("doc_id"),
        concat(
          when(pmod(col("doc_id"), lit(2)) === 0,
            lit("résumé ")).otherwise(lit("résumé ")),
          col("text")).as("raw"))
      mixed.select(col("doc_id"),
          length(col("raw")).as("raw_len"),
          graft.functions.NfcNormalize(col("raw")).as("norm"),
          col("raw"))
        .select(col("doc_id"), col("raw_len"),
          length(col("norm")).as("norm_len"),
          (col("raw") =!= col("norm")).cast("long").as("changed"),
          md5(col("norm").cast("binary")).as("norm_fp"))
        .orderBy("doc_id")
    }),

    // ZIPF SLOPE of the corpus vocabulary — the one-number distribution
    // health check next to text_heavy_hitters' head inspection: natural
    // corpora run slope ≈ −1 on the log-rank/log-frequency line; a much
    // flatter fit flags synthetic/templated text, a much steeper one a
    // collapsed vocabulary — both reasons to quarantine a crawl slice
    // before it trains. Least squares over the TOP-1000 terms only: the
    // head is where Zipf holds and what bounds the fit state — the
    // collected arrays are ≤1000 elements by construction, never
    // vocabulary-sized (which IS corpus-scale state).
    //
    // Determinism: ln() terms are libm ulps (the tfidf/entropy
    // precedent, absorbed by r4d); what must NOT float is the SUM
    // order, so all four moment sums fold over rank-sorted arrays —
    // bit-identical to DuckDB's in-order list sums. Scale: one
    // token-keyed two-phase count (the only corpus-sized shuffle), a
    // TakeOrderedAndProject top-1000, and a 1000-row tail.
    "text_zipf_slope" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val top = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("token")).limit(1000)
      val w = Window.orderBy(col("c").desc, col("token"))
      val ranked = top.withColumn("i", row_number().over(w).cast("long"))
        .select(col("i"), log(col("i").cast("double")).as("x"),
          log(col("c").cast("double")).as("y"))
      def fsum(ps: org.apache.spark.sql.Column,
          f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        aggregate(ps, lit(0.0), (acc, p) => acc + f(p))
      ranked
        .agg(count(lit(1)).as("n_terms"),
          array_sort(collect_list(struct(col("i"), col("x"), col("y"))))
            .as("ps"))
        .withColumn("nn", col("n_terms").cast("double"))
        .withColumn("sx", fsum(col("ps"), p => p.getField("x")))
        .withColumn("sy", fsum(col("ps"), p => p.getField("y")))
        .withColumn("sxx",
          fsum(col("ps"), p => p.getField("x") * p.getField("x")))
        .withColumn("sxy",
          fsum(col("ps"), p => p.getField("x") * p.getField("y")))
        .withColumn("b", (col("nn") * col("sxy") - col("sx") * col("sy"))
          / (col("nn") * col("sxx") - col("sx") * col("sx")))
        .filter(col("n_terms") > 1)
        .select(col("n_terms"), r4d(col("b")).as("zipf_slope"),
          r4d((col("sy") - col("b") * col("sx")) / col("nn"))
            .as("intercept"))
    }),

    // FLESCH READING-EASE per document — the readability member of the
    // quality family (text_quality_score reads surface hygiene; this
    // reads sentence/word shape): 206.835 − 1.015·(words/sentences) −
    // 84.6·(syllables/words), with syllables approximated by vowel-group
    // counts — the standard cheap estimator, and a pure regexp
    // projection (fn_regexp_suite's Java∩RE2 common-subset discipline;
    // no UDF, no shuffle before the presentation sort). The fixture
    // corpus carries no sentence punctuation, so n_sentences clamps to
    // ≥1 — the divide-by-zero guard any real crawl needs for
    // fragment-only documents (titles, alt text). All three counts are
    // exact integers; the formula is three IEEE double ops, r4d at the
    // edge.
    "text_readability" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .cast("long").as("n_words"),
        greatest(size(regexp_extract_all(lower(col("text")),
          lit("[.!?]+"), lit(0))).cast("long"), lit(1L)).as("n_sentences"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"),
          lit(0))).cast("long").as("n_syllables"))
      d.filter(col("n_words") > 0)
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"),
          r4d(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double")
              / col("n_sentences").cast("double"))
            - lit(84.6) * (col("n_syllables").cast("double")
              / col("n_words").cast("double"))).as("flesch"))
        .orderBy("doc_id")
    }),

    // PMI COLLOCATIONS — pointwise mutual information of adjacent
    // token pairs, PMI = log₂(n_ab·T / (n_a·n_b)): the association
    // statistic behind phrase induction and tokenizer-merge curricula
    // (raw bigram counts — text_ngrams — rank "the the" first; PMI
    // ranks pairs that co-occur MORE than their unigram frequencies
    // predict). n_a/n_b are ADJACENCY-SLOT marginals (first/second
    // position counts over the same bigram universe), so the ratio is
    // a proper probability ratio over one sample space. All counts
    // integer; ONE log₂ of an exact rational per surviving pair
    // (libm-identical both engines, the entropy-key precedent), r4d;
    // min-count floor 5 kills the noise tail; top-25 under a total
    // order.
    //
    // Scale: bigram generation is the text_ngrams map-side transform;
    // marginals are two more partial-agg collapses of the SAME bigram
    // table; the joins are slim key-keyed. T is a 1-row broadcast.
    "text_cooccurrence_pmi" -> ((s, dir) => {
      val bi = t(s, dir, "documents")
        .select(split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS a, toks[i+1] AS b))"))
          .as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
      val pairs = bi.groupBy("a", "b").agg(count(lit(1)).as("nab"))
      val left = bi.groupBy("a").agg(count(lit(1)).as("na"))
      val right = bi.groupBy("b").agg(count(lit(1)).as("nb"))
      val total = bi.agg(count(lit(1)).as("t"))
      pairs.filter(col("nab") >= 5)
        .join(left, Seq("a")).join(right, Seq("b"))
        .crossJoin(broadcast(total))
        .select(col("a"), col("b"), col("nab"),
          r4d(log2(col("nab").cast("double") * col("t").cast("double")
            / (col("na").cast("double") * col("nb").cast("double"))))
            .as("pmi"))
        .orderBy(col("pmi").desc, col("a"), col("b"))
        .limit(25)
    }),

    // UNIGRAM LOG-LIKELIHOOD QUALITY SCORE — per-doc mean −log₂ p(w)
    // under the corpus's own unigram model (the CCNet/perplexity
    //-filter shape, with the n-gram LM reduced to unigrams so the
    // model IS one aggregation): low bits ≡ stereotypical token mix,
    // high bits ≡ rare-token soup — the standard cheap signal next to
    // text_quality_score's surface heuristics. Identity used:
    // mean −log₂ p = log₂ T − (Σ log₂ cf_w)/n, so only integer corpus
    // counts reach the log. Determinism: the per-doc Σ log₂ cf is a
    // DOUBLE sum — order-dependent — so it folds over
    // array_sort(collect_list(cf)) in ascending order, mirrored by the
    // oracle's list_sort + in-order list sum (the agg_entropy_mix
    // convention); libm log2 ulps are the only cross-engine surface,
    // already relied on by the entropy/zipf keys.
    //
    // Scale: vocab is one token-keyed partial-agg exchange; the
    // tokens⋈vocab join shuffles on token (broadcast once vocab fits,
    // which a capped vocab does); the per-doc collect_list is bounded
    // by doc length — the same per-doc-bounded explode every text key
    // makes. T is a 1-row broadcast.
    // INTERPOLATED BIGRAM LM PERPLEXITY (§2.58) — the unigram key at
    // the order real CCNet-style quality filters actually use:
    // per-token surprisal under a Jelinek-Mercer-interpolated bigram
    // model, p(w|prev) = λ·c(prev,w)/c(prev·) + (1−λ)·cf(w)/T with
    // λ = 0.75 (interpolation, not backoff: the unigram floor keeps
    // every seen-token position finite even for unseen CONTEXTS —
    // c(prev,w) ≥ 1 whenever the position exists, so the bigram leg
    // is defined, but the mixture is what a held-out corpus needs).
    //
    // Determinism: every count is an exact integer; each position's
    // mixture probability is ONE double expression spelled
    // operand-for-operand in the oracle, and the per-doc fold rides
    // the sorted-list convention (array_sort the term list, THEN fold
    // log2 — identical IEEE sequence in both engines, the
    // text_perplexity_unigram discipline).
    //
    // Scale: bg/ctx/cf are |bigram-type|-bounded model tables (the
    // dictionary trick — model size is vocab², not corpus); the
    // per-position joins broadcast once the model fits, and the
    // per-doc collect_list is doc-length-bounded like every text key.
    "text_perplexity_bigram" -> ((s, dir) => {
      val tk = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val seq = tk.withColumn("prev",
        lag(col("tok"), 1).over(
          Window.partitionBy("doc_id").orderBy("pos")))
      val bg = seq.filter(col("prev").isNotNull)
        .groupBy("prev", "tok").agg(count(lit(1)).as("nb"))
      val ctx = bg.groupBy("prev").agg(sum(col("nb")).cast("long").as("np"))
      val cf = tk.groupBy("tok").agg(count(lit(1)).as("cf"))
      val tot = tk.agg(count(lit(1)).as("t"))
      seq.filter(col("prev").isNotNull)
        .join(bg, Seq("prev", "tok"))
        .join(ctx, Seq("prev"))
        .join(cf, Seq("tok"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"),
          (lit(0.75) * (col("nb").cast("double") / col("np").cast("double"))
            + lit(0.25) * (col("cf").cast("double") / col("t").cast("double")))
            .as("p"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          array_sort(collect_list(col("p"))).as("ps"))
        .select(col("doc_id"), col("n_bigrams"),
          r4d((-aggregate(col("ps"), lit(0.0), (acc, x) =>
              acc + log2(x))) / col("n_bigrams")).as("nll_bits"))
        .orderBy("doc_id")
    }),

    "text_perplexity_unigram" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cf"))
      val total = toks.agg(count(lit(1)).as("t"))
      toks.join(vocab, Seq("tok"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          array_sort(collect_list(col("cf"))).as("cs"))
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("n_tokens"),
          r4d(log2(col("t"))
            - aggregate(col("cs"), lit(0.0), (acc, x) =>
                acc + log2(x.cast("double")))
              / col("n_tokens")).as("nll_bits"))
        .orderBy("doc_id")
    }),

    // HAPAX RICHNESS (§2.77) — corpus-level vocabulary statistics per
    // language: vocabulary size, hapax legomena (once-only terms),
    // type-token ratio, hapax share. The per-DOC diversity lives in
    // text_quality_score; this is the CORPUS face — the
    // lexical-richness profile that flags template-generated or
    // over-deduplicated slices (real corpora run ~40-60% hapax; a
    // collapsed slice shows near zero). One explode → one
    // (lang, token) two-phase agg → one |vocab|-row reduce per lang.
    // All exact integers; two divisions r4d'd.
    "text_hapax_richness" -> ((s, dir) => {
      val tc = t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("c"))
      tc.groupBy("lang")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          count_if(col("c") === 1).as("hapax"),
          count_if(col("c") === 2).as("dis"))
        .select(col("lang"), col("n_tokens"), col("vocab"), col("hapax"),
          col("dis"),
          r4d(col("vocab").cast("double") / col("n_tokens").cast("double"))
            .as("type_token_ratio"),
          r4d(col("hapax").cast("double") / col("vocab").cast("double"))
            .as("hapax_share"))
        .orderBy("lang")
    }),

    // LEADING-TOKEN PROFILE (§2.156) — the top-3 document-INITIAL
    // tokens per source with their share: the boilerplate-header
    // detector (scraped corpora where many docs open with the same
    // navigation/disclaimer token need a header-strip pass before
    // training; prose doesn't). First token is a map-side projection
    // (split[0]); counts partial-aggregate to ≤ |sources|×|vocab|
    // rows; the top-3 is a bounded window under the (n desc, token)
    // total order.
    "text_leading_token_profile" -> ((s, dir) => {
      val ft = t(s, dir, "documents")
        .select(col("source"),
          split(col("text"), " ").getItem(0).as("tok"))
      val cnt = ft.groupBy("source", "tok")
        .agg(count(lit(1)).as("n"))
      val tot = ft.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("source")
        .orderBy(col("n").desc, col("tok"))
      cnt.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .join(broadcast(tot), Seq("source"))
        .select(col("source"), col("rk"),
          col("tok").as("leading_token"),
          col("n").as("n_docs_starting"),
          r4d(col("n").cast("double") / col("n_docs").cast("double"))
            .as("share"))
        .orderBy("source", "rk")
    }),

    // SIMPSON DIVERSITY (§2.151) — the repeat-probability member of
    // the lexical-diversity family (hapax/TTR count the tail; Yule's
    // K squares frequencies; Simpson's D is the exact probability two
    // random token DRAWS without replacement coincide): D =
    // Σ c·(c−1) / (N·(N−1)) per lang, an EXACT rational of integer
    // counts — one division at the edge, plus the inverse-Simpson
    // "effective vocabulary" (guarded when every token is hapax).
    // Scale: one (lang, token) partial-agg reduce, then a |langs|
    // reduce — the hapax key's exact shape.
    "text_simpson_diversity" -> ((s, dir) => {
      val tc = t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("c"))
      tc.groupBy("lang")
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
          sum(col("c") * (col("c") - 1)).as("coll"))
        .select(col("lang"), col("n_tokens"), col("vocab"),
          r4d(col("coll").cast("double")
            / (col("n_tokens") * (col("n_tokens") - 1)).cast("double"))
            .as("simpson_d"),
          when(col("coll") > 0,
            r4d((col("n_tokens") * (col("n_tokens") - 1)).cast("double")
              / col("coll").cast("double"))).as("inv_simpson"))
        .orderBy("lang")
    }),

    // NUMERIC-TOKEN PROFILE (§2.146) — per lang: how much of the
    // token stream is pure digits, and how long the numbers run —
    // the table-scrape / boilerplate signal quality filters read
    // (prose runs ~2-5% numeric; scraped tables and logs spike).
    // One anchored RE2-safe regexp per token, exact integer counts
    // and lengths, one reduce.
    "text_numeric_token_stats" -> ((s, dir) => {
      val tk = t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .withColumn("isnum", col("tok").rlike("^[0-9]+$"))
      tk.groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          count_if(col("isnum")).as("n_numeric"),
          sum(when(col("isnum"), length(col("tok")).cast("long"))
            .otherwise(0L)).cast("long").as("digits_total"),
          max(when(col("isnum"), length(col("tok")).cast("long")))
            .as("max_digits"))
        .select(col("lang"), col("n_tokens"), col("n_numeric"),
          r4d(col("n_numeric").cast("double")
            / col("n_tokens").cast("double")).as("numeric_share"),
          col("digits_total"), col("max_digits"))
        .orderBy("lang")
    }),

    // CROSS-LANGUAGE VOCAB JACCARD (§2.143) — pairwise vocabulary
    // overlap between languages: |V_a ∩ V_b| / |V_a ∪ V_b| for each
    // of the C(langs, 2) pairs — the cross-lingual-leakage /
    // shared-script signal a mixture designer reads next to
    // text_bigram_overlap's mass overlap (types vs tokens). The
    // intersection comes from ONE self-join of the (lang, token)
    // DISTINCT table on token (bounded by vocab, not corpus); union
    // by inclusion-exclusion. Exact integers, one division.
    "text_vocab_jaccard_pairs" -> ((s, dir) => {
      val v = t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .distinct().localCheckpoint(true)
      val sizes = v.groupBy("lang").agg(count(lit(1)).as("nv"))
      val inter = v.as("a").join(v.as("b"),
          col("a.tok") === col("b.tok")
            && col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(sizes.withColumnRenamed("lang", "lang_a")
          .withColumnRenamed("nv", "nva"), Seq("lang_a"))
        .join(sizes.withColumnRenamed("lang", "lang_b")
          .withColumnRenamed("nv", "nvb"), Seq("lang_b"))
        .select(col("lang_a"), col("lang_b"), col("nva"), col("nvb"),
          col("n_inter"),
          r4d(col("n_inter").cast("double")
            / (col("nva") + col("nvb") - col("n_inter")).cast("double"))
            .as("jaccard"))
        .orderBy("lang_a", "lang_b")
    }),

    // CHARACTER-CLASS PROFILE (§2.140) — per lang, the share of
    // letters / digits / spaces / other in the raw text, measured
    // WITHOUT exploding characters: each class count is
    // len(text) − len(regexp_replace(text, class, '')) — map-side
    // string work, one reduce, exact integers (the RE2-safe character
    // classes behave identically in both engines). The
    // encoding-mix fingerprint that catches scraped-binary and
    // wrong-charset sources before tokenization does.
    "text_script_profile" -> ((s, dir) => {
      def classLen(re: String) =
        (length(col("text"))
          - length(regexp_replace(col("text"), re, ""))).cast("long")
      t(s, dir, "documents")
        .select(col("lang"), length(col("text")).cast("long").as("n"),
          classLen("[a-zA-Z]").as("n_alpha"),
          classLen("[0-9]").as("n_digit"),
          classLen(" ").as("n_space"))
        .groupBy("lang")
        .agg(sum(col("n")).cast("long").as("n_chars"),
          sum(col("n_alpha")).cast("long").as("n_alpha"),
          sum(col("n_digit")).cast("long").as("n_digit"),
          sum(col("n_space")).cast("long").as("n_space"))
        .select(col("lang"), col("n_chars"),
          r4d(col("n_alpha").cast("double") / col("n_chars").cast("double"))
            .as("alpha_share"),
          r4d(col("n_digit").cast("double") / col("n_chars").cast("double"))
            .as("digit_share"),
          r4d(col("n_space").cast("double") / col("n_chars").cast("double"))
            .as("space_share"),
          r4d((col("n_chars") - col("n_alpha") - col("n_digit")
            - col("n_space")).cast("double")
            / col("n_chars").cast("double")).as("other_share"))
        .orderBy("lang")
    }),

    // CHAO1 RICHNESS ESTIMATOR (§2.139) — how many word types does
    // each language REALLY have, including the ones the sample
    // missed? The classic abundance-based estimator off
    // text_hapax_richness's own counts: Chao1 = V + h(h−1)/(2(d+1))
    // (bias-corrected form — defined even at zero doubletons).
    // Exact integers except the single division; the species-richness
    // read every corpus-coverage plan starts from.
    "text_chao1_richness" -> ((s, dir) => {
      val tc = t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("c"))
      tc.groupBy("lang")
        .agg(count(lit(1)).as("vocab"),
          count_if(col("c") === 1).as("hapax"),
          count_if(col("c") === 2).as("dis"))
        .select(col("lang"), col("vocab"), col("hapax"), col("dis"),
          r4d(col("vocab").cast("double")
            + (col("hapax") * (col("hapax") - 1)).cast("double")
              / (lit(2.0) * (col("dis") + 1).cast("double")))
            .as("chao1"))
        .orderBy("lang")
    }),

    // RAKE KEYWORDS (§2.139) — Rapid Automatic Keyword Extraction,
    // the classic unsupervised keyphrase miner: candidate phrases
    // are maximal stopword-free token runs (the gaps-and-islands
    // device per doc: island id = running stopword count), each
    // word scores deg/freq (deg = Σ length of phrases containing
    // it), a phrase scores the sum of its words. Exactness: the
    // word score is snapped to the exact integer (deg·10⁶) div freq,
    // so phrase scores are INTEGER sums — order-free — and the
    // global top-20 is orderBy+limit (TakeOrderedAndProject).
    // Shape: two bounded reduces over (word) and (phrase), windows
    // per doc only.
    "text_rake_keywords" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in",
        "is", "it", "that", "for", "on", "with", "as", "was", "at",
        "by", "be", "this")
      val tk = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos"), lower(col("col")).as("tok"))
        .withColumn("isstop", col("tok").isin(stop: _*))
      val w = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val isl = tk.withColumn("island",
          sum(when(col("isstop"), 1L).otherwise(0L)).over(w))
        .filter(!col("isstop"))
        .localCheckpoint(true)
      // Phrase instances: island words joined back in pos order.
      val phr = isl.groupBy("doc_id", "island")
        .agg(array_join(expr(
          "transform(array_sort(collect_list(struct(pos, tok)))," +
            " p -> p.tok)"), " ").as("phrase"),
          count(lit(1)).as("plen"))
      // Word statistics over ALL phrase instances: freq = occurrences,
      // deg = Σ length of the containing phrases.
      val wscore = isl.join(phr, Seq("doc_id", "island"))
        .groupBy("tok")
        .agg(count(lit(1)).as("freq"),
          sum(col("plen")).cast("long").as("deg"))
        .select(col("tok"), expr("(deg * 1000000L) div freq").as("score6"))
      // A phrase TYPE's score depends only on its words: score the
      // distinct phrase strings.
      val ptypes = phr.groupBy("phrase")
        .agg(count(lit(1)).as("n_occurrences"))
      ptypes
        .select(col("phrase"), col("n_occurrences"),
          posexplode(split(col("phrase"), " ")))
        .join(wscore, col("col") === col("tok"))
        .groupBy("phrase", "n_occurrences")
        .agg(sum(col("score6")).cast("long").as("score6"))
        .orderBy(col("score6").desc, col("n_occurrences").desc,
          col("phrase"))
        .limit(20)
        .select(col("phrase"), col("n_occurrences"), col("score6"),
          r4d(col("score6").cast("double") / lit(1000000.0))
            .as("rake_score"))
    }),

    // CROSS-SOURCE BIGRAM OVERLAP (§2.137) — how much of each
    // source's bigram MASS is shared with the rest of the corpus:
    // overlap = Σ_g min(c_src, c_rest) / Σ_g c_src (the clipped-count
    // modified precision at the heart of BLEU, aimed at the
    // source-vs-rest split) — low overlap = distinctive source, high
    // = redundant with the pool; the diversity-budget signal a
    // mixture designer reads next to dedup_cross_source_matrix's
    // doc-level dups. Aggregate-first and ALL integers: one
    // (gram, source) count reduce, gram totals by a second reduce,
    // c_rest = total − c_src, one division per source.
    "text_bigram_overlap" -> ((s, dir) => {
      val bg = t(s, dir, "documents")
        .select(col("source"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("source"), explode(expr(
          "transform(sequence(0, size(toks)-2)," +
            " i -> concat(toks[i], ' ', toks[i+1]))")).as("bigram"))
        .groupBy("source", "bigram").agg(count(lit(1)).as("c"))
      val tot = bg.groupBy("bigram")
        .agg(sum(col("c")).cast("long").as("ctot"))
      bg.join(tot, Seq("bigram"))
        .select(col("source"), col("c"),
          least(col("c"), col("ctot") - col("c")).as("cmin"))
        .groupBy("source")
        .agg(sum(col("c")).cast("long").as("n_bigrams"),
          sum(col("cmin")).cast("long").as("n_shared"))
        .select(col("source"), col("n_bigrams"), col("n_shared"),
          r4d(col("n_shared").cast("double")
            / col("n_bigrams").cast("double")).as("overlap"))
        .orderBy("source")
    }),

    // BIGRAM ENTROPY RATE (§2.164) — the conditional entropy
    // H(W₂|W₁) per lang in bits/token: how predictable is the next
    // token given the current one — the single-scalar language-
    // complexity readout next to the perplexity keys' per-doc tables
    // (H = log₂ of the bigram-model perplexity of the corpus
    // itself). Terms −(c₁₂/N)·log₂(c₁₂/c₁) are computed per distinct
    // bigram from exact integer counts and reduced by an ORDERED
    // fold over the (w₁, w₂)-sorted term list (the periodogram
    // device — no shuffle-order float sum), so both engines fold the
    // identical sequence; 2^H at the edge.
    "text_ngram_entropy_rate" -> ((s, dir) => {
      val bg = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("lang"), explode(expr(
          "transform(sequence(0, size(toks)-2)," +
            " i -> struct(toks[i] AS w1, toks[i+1] AS w2))")).as("b"))
        .select(col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c12 = bg.groupBy("lang", "w1", "w2")
        .agg(count(lit(1)).as("n"))
      val c1 = c12.groupBy("lang", "w1").agg(sum(col("n")).as("c1"))
      val nb = c12.groupBy("lang").agg(sum(col("n")).as("nb"),
        count(lit(1)).as("vocab_bigrams"))
      val terms = c12.join(c1, Seq("lang", "w1"))
        .join(nb, Seq("lang"))
        .select(col("lang"), col("w1"), col("w2"), col("nb"),
          col("vocab_bigrams"),
          (col("n").cast("double") / col("nb").cast("double")
            * log2(col("n").cast("double") / col("c1").cast("double")))
            .as("tt"))
      terms.groupBy("lang")
        .agg(first(col("nb")).as("n_bigrams"),
          first(col("vocab_bigrams")).as("vocab_bigrams"),
          array_sort(collect_list(struct(col("w1"), col("w2"),
            col("tt")))).as("xs"))
        .select(col("lang"), col("n_bigrams"), col("vocab_bigrams"),
          aggregate(col("xs"), lit(0.0), (a, x) => a - x("tt"))
            .as("h"))
        .select(col("lang"), col("n_bigrams"), col("vocab_bigrams"),
          r4d(col("h")).as("entropy_rate_bits"),
          r4d(pow(lit(2.0), col("h"))).as("perplexity_rate"))
        .orderBy("lang")
    }),

    // INTRA-DOC N-GRAM DUPLICATION (§2.160) — the C4/MassiveText
    // "repeated 8-gram" quality signal at the CHARACTER of this
    // corpus' token stream: per doc, 1 − distinct/total over the
    // sliding 8-token windows; reported per source as the
    // micro-averaged dup share (exact integer ratio, no per-doc
    // float mean) plus the share of docs with ANY internal repeat
    // (distinct < total — an exact test). Docs under 8 tokens have
    // no windows and drop from the gram counts but are reported in
    // n_docs_short. One explode + two keyed reduces.
    "text_intradoc_ngram_dup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          split(col("text"), " ").as("toks"))
      val grams = d.filter(size(col("toks")) >= 8)
        .select(col("source"), col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks)-8)," +
            " i -> array_join(slice(toks, i+1, 8), ' '))")).as("g"))
      val per = grams.groupBy("source", "doc_id")
        .agg(count(lit(1)).as("ng"),
          countDistinct(col("g")).as("nd"))
      val shorts = d.groupBy("source")
        .agg(count_if(size(col("toks")) < 8).as("n_docs_short"))
      per.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ng")).as("n_grams"),
          sum(col("nd")).as("n_distinct"),
          count_if(col("nd") < col("ng")).as("n_docs_with_repeat"))
        .join(shorts, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_docs_short"),
          col("n_grams"),
          r4d(lit(1.0) - col("n_distinct").cast("double")
            / col("n_grams").cast("double")).as("dup_share"),
          r4d(col("n_docs_with_repeat").cast("double")
            / col("n_docs").cast("double")).as("share_docs_repeat"))
        .orderBy("source")
    }),

    // RARE TOKEN SHARE (§2.192) — per source, the share of token
    // OCCURRENCES whose corpus-wide frequency is below 10 (the
    // rare/OOV mass) plus the distinct rare-type count — the
    // tokenizer-stress and misspelling-pressure corpus card (a
    // source full of rare tokens inflates vocabulary and fertility).
    // One vocab-keyed reduce for corpus frequencies + one broadcast
    // join back; exact integers and one division.
    "text_rare_token_share" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"),
          explode(split(col("text"), " ")).as("tok"))
      val freq = toks.groupBy("tok").agg(count(lit(1)).as("cf"))
      toks.join(broadcast(freq), Seq("tok"))
        .select(col("source"),
          (col("cf") < 10).cast("long").as("rare"), col("tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("rare")).as("n_rare"),
          countDistinct(when(col("rare") === 1, col("tok")))
            .as("n_rare_types"))
        .select(col("source"), col("n_tokens"), col("n_rare"),
          col("n_rare_types"),
          r4d(col("n_rare").cast("double")
            / col("n_tokens").cast("double")).as("rare_share"))
        .orderBy("source")
    }),

    // QUALITY-LENGTH CORRELATION (§2.190) — the corpus-wide version
    // of the pairwise length-bias audit: Pearson correlation between
    // the quality score and token count across ALL documents. A
    // strong positive value warns every quality-ranked selection
    // (preference pairs, curricula, quality gates) that it is
    // implicitly selecting for length. Quality snaps to the proven
    // 4dp integer grid, token counts are exact — integer moments,
    // one division.
    "text_quality_length_corr" -> ((s, dir) => {
      val D0 = "decimal(38,0)"
      val d = t(s, dir, "documents").select(
        round(graft.operators.PipelineQueries
          .qualityExpr(col("text")) * 10000).cast("long").as("q4"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      d.agg(count(lit(1)).as("n"),
          sum(col("q4").cast(D0)).as("sx"),
          sum(col("ntok").cast(D0)).as("sy"),
          sum(col("q4").cast(D0) * col("q4")).as("sxx"),
          sum(col("ntok").cast(D0) * col("ntok")).as("syy"),
          sum(col("q4").cast(D0) * col("ntok")).as("sxy"))
        .select(col("n").as("n_docs"),
          r4d((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double"))
              * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double")))).as("quality_length_corr"))
    }),

    // SOURCE TF-IDF COSINE (§2.180) — frequency-weighted source
    // similarity: each source becomes a dense tf·idf vector over the
    // GLOBAL sorted vocabulary (tf = occurrence counts, idf =
    // ln(n_docs/df) — so it weights by how much sources USE shared
    // words, where text_vocab_jaccard_pairs only asks whether they
    // share them), then cosine over every source pair. Vectors fold
    // in vocabulary order through the codegen ArrayDot; the pair
    // grid is the bounded |sources|² — never doc×doc.
    "text_source_tfidf_cosine" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
      val ndocs = t(s, dir, "documents").agg(count(lit(1)).as("nd"))
      val df = toks.select(col("tok"), col("doc_id")).distinct()
        .groupBy("tok").agg(count(lit(1)).as("dfc"))
      val tf = toks.groupBy("source", "tok")
        .agg(count(lit(1)).as("tfc"))
      val grid = tf.select("source").distinct()
        .crossJoin(broadcast(df))
        .join(tf, Seq("source", "tok"), "left")
        .crossJoin(broadcast(ndocs))
        .select(col("source"), col("tok"),
          (coalesce(col("tfc"), lit(0L)).cast("double")
            * log(col("nd").cast("double")
              / col("dfc").cast("double"))).as("w"))
      val vecs = grid.groupBy("source")
        .agg(expr("transform(array_sort(collect_list(" +
          "struct(tok, w))), p -> p.w)").as("v"))
      val lhs = vecs.select(col("source").as("source_a"),
        col("v").as("va"))
      val rhs = vecs.select(col("source").as("source_b"),
        col("v").as("vb"))
      lhs.join(rhs, col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"),
          r4d(ArrayDot(col("va"), col("vb"))
            / (sqrt(ArrayDot(col("va"), col("va")))
              * sqrt(ArrayDot(col("vb"), col("vb")))))
            .as("cosine"))
        .orderBy("source_a", "source_b")
    }),

    // LANG-SOURCE MIX (§2.176) — the multilingual corpus card per
    // source: language count, modal language + its share (argmax
    // under the (n desc, lang) total order), and the language
    // entropy in bits (sorted-count c·log2(c) fold — the shared
    // entropy device). The LABELED-lang counterpart to text_langid's
    // predictions and text_script_profile's codepoint view; one
    // keyed reduce + one bounded per-source fold.
    "text_lang_source_mix" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val c = t(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("source")
        .orderBy(col("n").desc, col("lang"))
      val top = c.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("source"), col("lang").as("top_lang"),
          col("n").as("top_n"))
      c.groupBy("source")
        .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_langs"),
          array_sort(collect_list(col("n"))).as("cs"))
        .join(top, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          col("top_lang"),
          r4d(col("top_n").cast("double")
            / col("n_docs").cast("double")).as("top_share"),
          r4d(log2(col("n_docs"))
            - aggregate(col("cs"), lit(0.0), (acc, x) =>
                acc + x.cast("double") * log2(x.cast("double")))
              / col("n_docs")).as("lang_entropy_bits"))
        .orderBy("source")
    }),

    // CROSS-DOC NGRAM SHARE (§2.171) — the per-source duplication
    // pressure metric (the RefinedWeb/FineWeb "duplicated n-gram
    // fraction" audit): micro-averaged share of each document's
    // DISTINCT 8-grams that appear in ≥2 documents corpus-wide,
    // plus the count of majority-shared docs (2·shared ≥ distinct —
    // exact integer test, no float enters the flag). Distinct from
    // text_intradoc_ngram_dup (WITHIN-doc repetition) and the
    // dedup_substring_spans pair lists (WHICH docs collide): this is
    // the corpus-card number. Shape: explode → distinct → one
    // gram-keyed reduce for df + one join back — corpus-linear.
    "text_crossdoc_ngram_share" -> ((s, dir) => {
      val d = graft.Tables.docs(s, dir)
        .select(col("source"), col("doc_id"),
          split(col("text"), " ").as("toks"))
      val grams = d.filter(size(col("toks")) >= 8)
        .select(col("source"), col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks)-8)," +
            " i -> array_join(slice(toks, i+1, 8), ' '))")).as("g"))
        .distinct()
      val df = grams.groupBy("g")
        .agg(countDistinct(col("doc_id")).as("gdocs"))
      val per = grams.join(df, Seq("g"))
        .groupBy("source", "doc_id")
        .agg(count(lit(1)).as("nd"),
          count_if(col("gdocs") >= 2).as("nshared"))
      per.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nd")).as("n_distinct_grams"),
          sum(col("nshared")).as("n_shared_grams"),
          count_if(col("nshared") * 2 >= col("nd"))
            .as("n_docs_majority_shared"))
        .select(col("source"), col("n_docs"), col("n_distinct_grams"),
          col("n_shared_grams"),
          r4d(col("n_shared_grams").cast("double")
            / col("n_distinct_grams").cast("double"))
            .as("share_shared"),
          col("n_docs_majority_shared"))
        .orderBy("source")
    }),

    // SELF-BLEU-LITE (§2.159) — the synthetic-corpus diversity
    // audit: per source, the micro-averaged share of each document's
    // DISTINCT bigrams (the BLEU clip-at-1 convention) that also
    // appear in at least one OTHER document of the same source —
    // high self-overlap ⇒ mode-collapsed generation or boilerplate;
    // plus the share of documents whose own overlap is ≥ ½ (an exact
    // 2·matched ≥ total integer test, no per-doc float mean whose
    // sum order could wobble). df ≥ 2 on the per-doc-distinct
    // (source, bigram) table IS "appears in another doc", since each
    // doc contributes each bigram once. Two keyed reduces.
    "text_self_bleu_lite" -> ((s, dir) => {
      val db = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("source"), col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks)-2)," +
            " i -> concat(toks[i], ' ', toks[i+1]))")).as("bigram"))
        .distinct()
      val df = db.groupBy("source", "bigram")
        .agg(count(lit(1)).as("df"))
      val per = db.join(df, Seq("source", "bigram"))
        .groupBy("source", "doc_id")
        .agg(count(lit(1)).as("nb"),
          count_if(col("df") >= 2).as("nm"))
      per.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nb")).as("n_distinct_bigrams"),
          sum(col("nm")).as("n_matched"),
          count_if(col("nm") * 2 >= col("nb"))
            .as("n_docs_high_overlap"))
        .select(col("source"), col("n_docs"),
          col("n_distinct_bigrams"), col("n_matched"),
          r4d(col("n_matched").cast("double")
            / col("n_distinct_bigrams").cast("double"))
            .as("self_bleu2_micro"),
          r4d(col("n_docs_high_overlap").cast("double")
            / col("n_docs").cast("double")).as("share_high_overlap"))
        .orderBy("source")
    }),

    // LEXICAL DENSITY (§2.134) — the content-word share per lang:
    // 1 − stopwords/tokens over a FIXED 20-word function-word list
    // (the classic readability/quality covariate next to
    // text_quality_score's stopword RATIO feature — this one is the
    // standalone per-language profile). Exact integer counts, one
    // division; the lowercase comparison and the literal list are
    // spelled identically in both engines.
    "text_lexical_density" -> ((s, dir) => {
      val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in",
        "is", "it", "that", "for", "on", "with", "as", "was", "at",
        "by", "be", "this")
      t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          count_if(lower(col("tok")).isin(stop: _*)).as("n_stop"))
        .select(col("lang"), col("n_tokens"), col("n_stop"),
          r4d(lit(1.0) - col("n_stop").cast("double")
            / col("n_tokens").cast("double")).as("lexical_density"))
        .orderBy("lang")
    }),

    // YULE'S K (§2.130) — the classic repeat-rate vocabulary-richness
    // characteristic next to text_hapax_richness's raw type counts:
    // K = 10⁴·(Σ_m m²·V_m − N)/N², which is 10⁴·(Σ_tokens c² − N)/N²
    // off the SAME (lang, token) count reduce. K is length-robust
    // where TTR is not — the standard stylometric scalar. Everything
    // is exact integers in DECIMAL(38,0) (c² sums are corpus-scale)
    // until the single double division, r4d.
    "text_yule_k" -> ((s, dir) => {
      val tc = t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("c"))
      tc.groupBy("lang")
        .agg(sum(col("c")).cast("decimal(38,0)").as("n"),
          count(lit(1)).as("vocab"),
          sum(col("c").cast("decimal(38,0)") * col("c"))
            .cast("decimal(38,0)").as("m2"))
        .select(col("lang"), col("n").cast("long").as("n_tokens"),
          col("vocab"),
          r4d(lit(10000.0) * (col("m2") - col("n")).cast("double")
            / (col("n") * col("n")).cast("double")).as("yule_k"))
        .orderBy("lang")
    }),

    // VOCAB GROWTH / HEAPS CURVE (§2.77) — cumulative vocabulary size
    // at each decile of the doc_id-ordered corpus: the V(N) ∝ N^β
    // curve whose early plateau is the classic duplicate-corpus
    // signature (fresh text keeps minting new types; replayed text
    // stops). Distributed form: a token's contribution is its FIRST
    // occurrence rank — min(doc rank) per token, one agg — and each
    // decile boundary counts tokens with first_rn ≤ bound via a
    // broadcast 10-row boundary spine + conditional sums; no
    // per-prefix rescan, no quadratic anything. The doc-rank window
    // is driver-scale here; at 100 TB it becomes the two-pass
    // distributed prefix sum pack_sequences uses.
    "text_vocab_growth" -> ((s, dir) => {
      val w = Window.orderBy("doc_id")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("tcount", size(col("toks")).cast("long"))
      val n = docs.agg(count(lit(1)).as("n"))
      val bounds = s.range(1, 11).crossJoin(broadcast(n))
        .select(col("id").as("decile"),
          expr("(n * id) div 10").as("bound"))
      val firstRn = docs
        .select(col("rn"), explode(col("toks")).as("token"))
        .groupBy("token").agg(min(col("rn")).as("first_rn"))
      val vocabAt = firstRn.crossJoin(broadcast(bounds))
        .groupBy("decile", "bound")
        .agg(count_if(col("first_rn") <= col("bound")).as("cum_vocab"))
      val toksAt = docs.crossJoin(broadcast(bounds))
        .groupBy("decile")
        .agg(sum(when(col("rn") <= col("bound"), col("tcount"))
          .otherwise(0L)).as("cum_tokens"))
      vocabAt.join(toksAt, Seq("decile"))
        .select(col("decile"), col("bound").as("n_docs"),
          col("cum_tokens"), col("cum_vocab"))
        .orderBy("decile")
    }),

    // SOURCE-DRIFT JS DIVERGENCE (§2.79) — Jensen-Shannon divergence
    // (log₂, so ∈ [0,1]) between each source's unigram distribution
    // and the corpus distribution: the drift monitor a mixed-corpus
    // pipeline runs per ingest batch — a source whose JS jumps is
    // shipping different text than the blend it was weighted for.
    // Absent-token handling without a vocab×sources blowup: a token
    // the source lacks (p=0) contributes exactly 0.5·q·log₂(q/(q/2))
    // = 0.5·q, so the whole absent mass folds into the closed form
    // 0.5·(1 − Σ_present q) and the join stays O(source's own vocab).
    // The probability ratios are IEEE-exact divisions of exact
    // counts; the per-term log₂ sum is order-tolerant at 4dp (the
    // entropy-key precedent).
    "text_js_drift" -> ((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
      val glob = tok.groupBy("token").agg(count(lit(1)).as("cg"))
      val nGlob = tok.agg(count(lit(1)).as("ng"))
      val src = tok.groupBy("source", "token").agg(count(lit(1)).as("cs"))
      val nSrc = tok.groupBy("source").agg(count(lit(1)).as("ns"))
      val joined = src.join(broadcast(glob), Seq("token"))
        .join(broadcast(nSrc), Seq("source"))
        .crossJoin(broadcast(nGlob))
        .select(col("source"), col("ns"),
          (col("cs").cast("double") / col("ns").cast("double")).as("p"),
          (col("cg").cast("double") / col("ng").cast("double")).as("q"))
      joined
        .withColumn("m", (col("p") + col("q")) / 2)
        .groupBy("source")
        .agg(first(col("ns")).as("n_tokens"),
          sum(lit(0.5) * col("p") * log2(col("p") / col("m"))
            + lit(0.5) * col("q") * log2(col("q") / col("m"))).as("core"),
          sum(col("q")).as("q_present"))
        .select(col("source"), col("n_tokens"),
          r4d(col("core") + lit(0.5) * (lit(1.0) - col("q_present")))
            .as("js_div"))
        .orderBy("source")
    }),

    // TOKEN BURSTINESS (§2.77) — Fano dispersion (variance-to-mean of
    // per-doc counts, zero-inflated over ALL docs) for the 20 most
    // frequent tokens: uniform filler distributes evenly (index ≈ 1
    // or below); topical/boilerplate terms clump (index ≫ 1) — the
    // corpus-linguistics complement to plain frequency that separates
    // function words from burst terms. Dispersion is computed from
    // EXACT integer moments via (N·Σc² − S²)/(N·S), so the only
    // floating step is one division. Two-phase aggs end to end; the
    // top-20 pick is a 20-row ordered limit off the term totals.
    "text_token_burstiness" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val perDoc = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy("token", "doc_id").agg(count(lit(1)).as("c"))
      val stats = perDoc.groupBy("token")
        .agg(count(lit(1)).as("docs_with"),
          sum(col("c")).as("total"),
          sum(col("c") * col("c")).as("ss"))
      stats.orderBy(col("total").desc, col("token")).limit(20)
        .crossJoin(broadcast(nDocs))
        .select(col("token"), col("total"), col("docs_with"),
          r4d((col("n_docs") * col("ss") - col("total") * col("total"))
            .cast("double")
            / (col("n_docs") * col("total")).cast("double"))
            .as("dispersion"))
        .orderBy(col("total").desc, col("token"))
    }),

    // WORD-LENGTH PROFILE (§2.104) — per-language distribution of
    // token lengths with each cell's share: the morphology
    // fingerprint that separates scripts/languages and flags
    // tokenizer-hostile corpora (a length-30 spike = unsplit
    // concatenations or URLs) — the cheap companion of
    // text_tokenizer_fertility. Exact integer cells (langs × ≤ max
    // word length), one division per cell against the broadcast
    // per-lang total. One partial-agg reduce; nothing downstream
    // scales.
    "text_word_length_profile" -> ((s, dir) => {
      val cells = t(s, dir, "documents")
        .select(col("lang"),
          explode(split(col("text"), " ")).as("token"))
        .groupBy(col("lang"), length(col("token")).cast("long")
          .as("wlen"))
        .agg(count(lit(1)).as("n"))
      val tot = cells.groupBy("lang")
        .agg(sum(col("n")).cast("long").as("total"))
      cells.join(broadcast(tot), Seq("lang"))
        .select(col("lang"), col("wlen"), col("n"),
          r4d(col("n").cast("double") / col("total").cast("double"))
            .as("share"))
        .orderBy("lang", "wlen")
    }),

    // CHARACTER ENTROPY (§2.102) — per-document Shannon entropy of
    // the character distribution: the cheap randomness probe that
    // separates natural text (~4 bits/char) from base64 blobs,
    // repeated padding, and binary spill — a standard pre-tokenizer
    // quality gate next to text_quality_score. The agg_entropy_mix
    // device per doc: exact per-char counts, entropy = log2(n) −
    // (1/n)·Σ c·log2(c) folded over the char-count-sorted ≤|alphabet|
    // list. Shape: one char explode (linear in corpus bytes), one
    // (doc, char) partial-agg reduce, one doc reduce.
    // Empty docs are excluded on BOTH engines (Spark split("","")
    // yields [""] while DuckDB string_split yields []); the fixture
    // corpus is ASCII, where Java's per-code-unit split and DuckDB's
    // per-UTF-8-character split agree — non-ASCII text would need an
    // explicit codepoint basis shared by both engines.
    "text_char_entropy" -> ((s, dir) => {
      val c = t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      c.groupBy("doc_id")
        .agg(sum(col("c")).as("n_chars"),
          count(lit(1)).as("n_distinct"),
          array_sort(collect_list(col("c"))).as("cs"))
        .select(col("doc_id"), col("n_chars"), col("n_distinct"),
          r4d(log2(col("n_chars"))
            - aggregate(col("cs"), lit(0.0), (acc, x) =>
                acc + x.cast("double") * log2(x.cast("double")))
              / col("n_chars")).as("entropy_bits"))
        .orderBy("doc_id")
    }),

    // VOCABULARY COVERAGE CURVE (§2.99) — "how much of the corpus do
    // the top-k word types cover?", the sizing question behind every
    // vocab/tokenizer budget (a 10k word vocab covering 95% of tokens
    // says subwording only has to carry the last 5%). NEVER ranks the
    // vocabulary globally: token counts reduce to the FREQUENCY
    // HISTOGRAM (c_f types at frequency f — ≤ O(√corpus) rows by
    // Zipf), the cumulative type/mass counters run over that bounded
    // table, and each cut k ∈ {10,100,1k,10k} is the first
    // (descending-frequency) block where cum types ≥ k — the
    // eval_lift_curve struct-min device. Tie types within a frequency
    // block are interchangeable, so block-boundary semantics are the
    // exact answer, not an approximation. Coverage = one division of
    // exact integers.
    "text_ngram_coverage_curve" -> ((s, dir) => {
      val tc = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("c"))
      val hist = tc.groupBy("c").agg(count(lit(1)).as("types"))
      val w = Window.orderBy(col("c").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cumv", sum(col("types")).over(w).cast("long"))
        .withColumn("cumm", sum(col("c") * col("types")).over(w)
          .cast("long"))
      val glob = hist.agg(sum(col("types")).cast("long").as("vocab"),
        sum(col("c") * col("types")).cast("long").as("total"))
      val ks = s.range(1, 5)
        .select(pow(lit(10.0), col("id")).cast("long").as("k"))
      ks.crossJoin(broadcast(glob))
        .join(cum, col("cumv") >= least(col("k"), col("vocab")))
        .groupBy("k", "vocab", "total")
        .agg(min(struct(col("cumv"), col("cumm"), col("c"))).as("cut"))
        .select(col("k"), col("vocab"), col("cut.c").as("freq_cut"),
          col("cut.cumv").as("types_at_cut"),
          col("cut.cumm").as("tokens_at_cut"),
          r4d(col("cut.cumm").cast("double")
            / col("total").cast("double")).as("coverage"))
        .orderBy("k")
    }),

    // KNESER-NEY BIGRAM PERPLEXITY (§2.110) — the JM key's sibling at
    // the smoothing real LMs use: absolute discount d = 3/4 with the
    // CONTINUATION unigram (how many contexts a word follows, not how
    // often it occurs — the "San Francisco" correction). p(w|v) =
    // (c(vw) − d)/c(v·) + (d·N₁₊(v·)/c(v·))·(N₁₊(·w)/|bigram types|);
    // c(vw) ≥ 1 at every scored position so the max(·,0) clamp is
    // vacuous by construction. Exactness: the discount lives in
    // quarter-units (4c − 3 over 4·c(v·) — all BIGINTs), every model
    // count is exact, each position's p is ONE double chain spelled
    // operand-for-operand in the oracle, and the per-doc fold rides
    // the sorted-list convention. Scale: all four model tables are
    // |bigram-type|/|vocab|-bounded (the dictionary trick); per-
    // position joins shuffle on token keys; the collect_list is
    // doc-length-bounded.
    "text_perplexity_kneser_ney" -> ((s, dir) => {
      val tk = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val seq = tk.withColumn("prev",
        lag(col("tok"), 1).over(
          Window.partitionBy("doc_id").orderBy("pos")))
      val bg = seq.filter(col("prev").isNotNull)
        .groupBy("prev", "tok").agg(count(lit(1)).as("nb"))
      val ctx = bg.groupBy("prev")
        .agg(sum(col("nb")).cast("long").as("np"),
          count(lit(1)).as("nt"))
      val cont = bg.groupBy("tok").agg(count(lit(1)).as("ncont"))
      val nbt = bg.agg(count(lit(1)).as("nbt"))
      seq.filter(col("prev").isNotNull)
        .join(bg, Seq("prev", "tok"))
        .join(ctx, Seq("prev"))
        .join(cont, Seq("tok"))
        .crossJoin(broadcast(nbt))
        .select(col("doc_id"),
          ((col("nb") * 4 - 3).cast("double")
              / (col("np") * 4).cast("double")
            + (col("nt") * 3).cast("double")
              / (col("np") * 4).cast("double")
              * (col("ncont").cast("double") / col("nbt").cast("double")))
            .as("p"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          array_sort(collect_list(col("p"))).as("ps"))
        .select(col("doc_id"), col("n_bigrams"),
          r4d((-aggregate(col("ps"), lit(0.0), (acc, x) =>
              acc + log2(x))) / col("n_bigrams")).as("nll_bits"))
        .orderBy("doc_id")
    }),

    // N-GRAM NOVELTY DECAY (§2.110) — what fraction of each corpus
    // decile's bigram OCCURRENCES are first seen in that decile? The
    // diminishing-returns curve behind "is more of this source still
    // worth crawling" (novelty_ratio gives per-doc shingle novelty;
    // this is the corpus-arrival-order macro curve). Arrival order =
    // doc_id; decile = (doc_id·10) div (max_id + 1) — exact integer
    // both engines. first decile per bigram is a MIN over the bigram-
    // keyed reduce (dictionary-bounded), joined back to the per-
    // (bigram, decile) occurrence counts; the ratio is one division
    // of exact counts per output row (10 rows).
    "text_ngram_novelty_decay" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val mx = docs.agg(max(col("doc_id")).as("mx"))
      val bgs = docs
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .crossJoin(broadcast(mx))
        .select(expr("(doc_id * 10) div (mx + 1)").as("decile"),
          explode(expr("transform(sequence(0, size(toks)-2)," +
            " i -> concat(toks[i], ' ', toks[i+1]))")).as("bg"))
      val occ = bgs.groupBy("bg", "decile").agg(count(lit(1)).as("n"))
      val first = occ.groupBy("bg").agg(min(col("decile")).as("fd"))
      occ.join(first, Seq("bg"))
        .groupBy("decile")
        .agg(sum(col("n")).cast("long").as("n_occ"),
          sum(when(col("decile") === col("fd"), col("n"))
            .otherwise(lit(0L))).cast("long").as("n_novel"))
        .select(col("decile"), col("n_occ"), col("n_novel"),
          r4d(col("n_novel").cast("double") / col("n_occ").cast("double"))
            .as("novelty"))
        .orderBy("decile")
    }),

    // SOURCE-OUTLIER DOCUMENTS (§2.122) — which docs don't BELONG to
    // their source's topic profile? Per doc, the TF cosine against
    // its source's token-count centroid: the numerator Σ tf·c_s and
    // both squared norms are EXACT integer sums over the bounded
    // vocabulary (order-free by integerness — no fold machinery
    // needed), cosine is one chain of exact operands, and the
    // bottom-3 per source (identical-double ranking, doc tie-break)
    // is the re-crawl/mislabel audit queue. Shape: one (doc, token)
    // reduce, one (source, token) reduce joined back on token, a
    // per-doc integer reduce, a bounded rank window.
    "text_source_outlier_score" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dt = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("tk"))
        .groupBy("doc_id", "source", "tk")
        .agg(count(lit(1)).as("dt"))
      val sv = dt.groupBy("source", "tk")
        .agg(sum(col("dt")).cast("long").as("cs"))
      val ss = sv.groupBy("source")
        .agg(sum(col("cs").cast("decimal(38,0)") * col("cs")).as("ss2"))
      val per = dt.join(sv, Seq("source", "tk"))
        .groupBy("doc_id", "source")
        .agg(sum(col("dt").cast("decimal(38,0)") * col("cs")).as("num"),
          sum(col("dt").cast("decimal(38,0)") * col("dt")).as("dd2"))
        .join(broadcast(ss), Seq("source"))
        .select(col("source"), col("doc_id"),
          (col("num").cast("double")
            / (sqrt(col("dd2").cast("double"))
              * sqrt(col("ss2").cast("double")))).as("cos"))
      per.withColumn("rk", row_number().over(
          Window.partitionBy("source")
            .orderBy(col("cos").asc, col("doc_id"))))
        .filter(col("rk") <= 3)
        .select(col("source"), col("rk").cast("long").as("rk"),
          col("doc_id"), r4d(col("cos")).as("cos"))
        .orderBy("source", "rk")
    }),

    // LOG-ODDS DISTINCTIVE KEYWORDS (§2.115) — Monroe et al.'s
    // "Fightin' Words": which words are DISTINCTIVE of each source,
    // with a Dirichlet prior so rare words don't dominate (the flaw
    // of raw tf-idf contrast)? Candidate set = the global top-50
    // words (bounded); per (source, word): δ = ln((c_sw+1)/(n_s+K−
    // c_sw−1)) − ln((c_w+1)/(N+K−c_w−1)), z = δ/√(1/(c_sw+1) +
    // 1/(c_w+1)), top-5 per source by z. Every operand is an exact
    // integer; each row is one libm chain spelled operand-for-operand
    // (sources×50 rows — bounded, so the rank window is constant-
    // size). Shape: one token reduce, a top-50 TakeOrdered, a
    // broadcast spine join, map-side chains.
    "text_odds_ratio_keywords" -> ((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tk"))
      val gl = tok.groupBy("tk").agg(count(lit(1)).as("cw"))
      val top = gl.orderBy(col("cw").desc, col("tk")).limit(50)
      val ns = tok.groupBy("source").agg(count(lit(1)).as("ns"))
      val nn = tok.agg(count(lit(1)).as("nN"))
      val cs = tok.join(broadcast(top.select(col("tk"))), Seq("tk"))
        .groupBy("source", "tk").agg(count(lit(1)).as("csw"))
      val rows = ns.crossJoin(broadcast(top))
        .join(cs, Seq("source", "tk"), "left")
        .crossJoin(broadcast(nn))
        .select(col("source"), col("tk"),
          coalesce(col("csw"), lit(0L)).as("csw"),
          col("ns"), col("cw"), col("nN"))
        .withColumn("z",
          (log((col("csw") + 1).cast("double")
              / (col("ns") + 50 - col("csw") - 1).cast("double"))
            - log((col("cw") + 1).cast("double")
              / (col("nN") + 50 - col("cw") - 1).cast("double")))
          / sqrt(lit(1.0) / (col("csw") + 1).cast("double")
            + lit(1.0) / (col("cw") + 1).cast("double")))
      rows.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")
            .orderBy(col("z").desc, col("tk"))))
        .filter(col("rk") <= 5)
        .select(col("source"), col("rk").cast("long").as("rk"),
          col("tk").as("word"), col("csw"), r4d(col("z")).as("z"))
        .orderBy("source", "rk")
    }),

    // BURROWS' DELTA (§2.110) — the classic stylometric distance
    // between sources: z-scores of the top-20 function-word rates
    // (per-mille of each source's tokens), Δ(a,b) = mean |z_a − z_b|.
    // The source-similarity matrix a contamination/provenance audit
    // reads next to text_js_drift's divergence (delta weights every
    // marker word equally — drift weights by mass). Exactness: rates
    // are one division of exact counts; the cross-source mean/var and
    // the per-pair |z| means fold over array_sort'ed (key, value)
    // struct lists (the markov-key device) — sources and the 20-word
    // marker set are both bounded, so every list is constant-size.
    // Scale: one token reduce, a top-20 TakeOrdered, then bounded
    // spine tables only.
    "text_burrows_delta" -> ((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tk"))
      val top = tok.groupBy("tk").agg(count(lit(1)).as("cg"))
        .orderBy(col("cg").desc, col("tk")).limit(20)
        .select(col("tk"))
      val ns = tok.groupBy("source").agg(count(lit(1)).as("ns"))
      val spine = ns.crossJoin(broadcast(top))
      val cs = tok.join(broadcast(top), Seq("tk"))
        .groupBy("source", "tk").agg(count(lit(1)).as("c"))
      val rf = spine.join(cs, Seq("source", "tk"), "left")
        .select(col("source"), col("tk"),
          ((coalesce(col("c"), lit(0L)) * 1000).cast("double")
            / col("ns").cast("double")).as("rf"))
      val stats = rf.groupBy("tk")
        .agg(array_sort(collect_list(struct(col("source"), col("rf"))))
          .as("xs"), count(lit(1)).as("nsrc"))
        .select(col("tk"), col("nsrc"),
          (aggregate(col("xs"), lit(0.0), (a, x) => a + x("rf"))
            / col("nsrc")).as("mean"),
          aggregate(col("xs"), lit(0.0), (a, x) =>
            a + x("rf") * x("rf")).as("ss"))
        .select(col("tk"),
          col("mean"),
          sqrt(col("ss") / col("nsrc") - col("mean") * col("mean"))
            .as("sd"))
      val z = rf.join(stats, Seq("tk"))
        .select(col("source"), col("tk"),
          when(col("sd") > 0, (col("rf") - col("mean")) / col("sd"))
            .otherwise(lit(0.0)).as("z"))
      z.as("a").join(z.as("b"),
          col("a.tk") === col("b.tk")
            && col("a.source") < col("b.source"))
        .select(col("a.source").as("source_a"),
          col("b.source").as("source_b"), col("a.tk").as("tk"),
          abs(col("a.z") - col("b.z")).as("dz"))
        .groupBy("source_a", "source_b")
        .agg(array_sort(collect_list(struct(col("tk"), col("dz"))))
          .as("ds"), count(lit(1)).as("nw"))
        .select(col("source_a"), col("source_b"),
          r4d(aggregate(col("ds"), lit(0.0), (a, x) => a + x("dz"))
            / col("nw")).as("delta"))
        .orderBy("source_a", "source_b")
    })
  )

  private val tokCte =
    """toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM documents WHERE doc_id < 1000),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
      |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
      |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  val oracle: Map[String, String] = Map(
    "text_hapax_richness" ->
      """WITH tc AS (SELECT lang, token, count(*) AS c
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
        |    FROM documents) GROUP BY 1, 2)
        |SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS vocab,
        |  count(*) FILTER (WHERE c = 1) AS hapax,
        |  count(*) FILTER (WHERE c = 2) AS dis,
        |  ROUND(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
        |    * 10000) / 10000 AS type_token_ratio,
        |  ROUND(CAST(count(*) FILTER (WHERE c = 1) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 10000) / 10000 AS hapax_share
        |FROM tc GROUP BY lang ORDER BY lang""".stripMargin,
    // Same first-token projection and bounded top-3 window.
    "text_leading_token_profile" ->
      """WITH ft AS (SELECT source,
        |    string_split(text, ' ')[1] AS tok FROM documents),
        |cnt AS (SELECT source, tok, count(*) AS n FROM ft
        |  GROUP BY 1, 2),
        |tot AS (SELECT source, count(*) AS n_docs FROM ft GROUP BY 1),
        |r AS (SELECT source, tok, n,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n DESC, tok) AS BIGINT) AS rk
        |  FROM cnt)
        |SELECT r.source, r.rk, r.tok AS leading_token,
        |  r.n AS n_docs_starting,
        |  ROUND(CAST(r.n AS DOUBLE) / CAST(t.n_docs AS DOUBLE)
        |    * 10000) / 10000 AS share
        |FROM r JOIN tot t ON t.source = r.source
        |WHERE r.rk <= 3 ORDER BY r.source, r.rk""".stripMargin,
    // Same canonical token-set md5 key including singletons.
    "dedup_cluster_size_hist" ->
      """WITH cl AS (SELECT md5(array_to_string(list_sort(
        |      list_distinct(string_split(text, ' '))), ' ')) AS h,
        |    count(*) AS sz
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(sz) AS BIGINT) AS n_docs_total FROM cl)
        |SELECT sz AS cluster_size, count(*) AS n_clusters,
        |  CAST(sz * count(*) AS BIGINT) AS n_docs,
        |  ROUND(CAST(sz * count(*) AS DOUBLE)
        |    / CAST(n_docs_total AS DOUBLE) * 10000) / 10000
        |    AS share_of_corpus
        |FROM cl CROSS JOIN t GROUP BY sz, n_docs_total
        |ORDER BY cluster_size""".stripMargin,
    // Same exact count ratios; identical log2 edge.
    "text_kl_divergence" ->
      """WITH tok AS (SELECT source,
        |    unnest(string_split(text, ' ')) AS token FROM documents),
        |g AS (SELECT token, count(*) AS cg FROM tok GROUP BY 1),
        |ng AS (SELECT count(*) AS ng FROM tok),
        |s AS (SELECT source, token, count(*) AS cs FROM tok
        |  GROUP BY 1, 2),
        |ns AS (SELECT source, count(*) AS ns FROM tok GROUP BY 1),
        |j AS (SELECT s.source, ns.ns,
        |    CAST(s.cs AS DOUBLE) / CAST(ns.ns AS DOUBLE) AS p,
        |    CAST(g.cg AS DOUBLE) / CAST(ng.ng AS DOUBLE) AS q
        |  FROM s JOIN g USING (token) JOIN ns USING (source)
        |  CROSS JOIN ng)
        |SELECT source, CAST(max(ns) AS BIGINT) AS n_tokens,
        |  ROUND(sum(p * log2(p / q)) * 10000) / 10000 + 0.0 AS kl_bits
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    // Same exact collision rational; HUGEINT sums cast back, the
    // identical hapax-corpus guard.
    "text_simpson_diversity" ->
      """WITH tc AS (SELECT lang, token, count(*) AS c
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
        |    FROM documents) GROUP BY 1, 2),
        |a AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    count(*) AS vocab,
        |    CAST(sum(c * (c - 1)) AS BIGINT) AS coll
        |  FROM tc GROUP BY 1)
        |SELECT lang, n_tokens, vocab,
        |  ROUND(CAST(coll AS DOUBLE)
        |    / CAST(n_tokens * (n_tokens - 1) AS DOUBLE) * 10000) / 10000
        |    AS simpson_d,
        |  CASE WHEN coll > 0 THEN
        |    ROUND(CAST(n_tokens * (n_tokens - 1) AS DOUBLE)
        |      / CAST(coll AS DOUBLE) * 10000) / 10000 END
        |    AS inv_simpson
        |FROM a ORDER BY lang""".stripMargin,
    // Same anchored class, exact counts and lengths.
    "text_numeric_token_stats" ->
      """WITH tk AS (SELECT lang,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT lang, tok,
        |    regexp_matches(tok, '^[0-9]+$') AS isnum FROM tk)
        |SELECT lang, count(*) AS n_tokens,
        |  count(*) FILTER (WHERE isnum) AS n_numeric,
        |  ROUND(CAST(count(*) FILTER (WHERE isnum) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 10000) / 10000
        |    AS numeric_share,
        |  CAST(sum(CASE WHEN isnum THEN len(tok) ELSE 0 END)
        |    AS BIGINT) AS digits_total,
        |  max(CASE WHEN isnum THEN CAST(len(tok) AS BIGINT) END)
        |    AS max_digits
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    // Same distinct self-join and inclusion-exclusion union.
    "text_vocab_jaccard_pairs" ->
      """WITH v AS (SELECT DISTINCT lang, tok FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)),
        |sz AS (SELECT lang, count(*) AS nv FROM v GROUP BY 1),
        |i AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
        |    count(*) AS n_inter
        |  FROM v a JOIN v b ON a.tok = b.tok AND a.lang < b.lang
        |  GROUP BY 1, 2)
        |SELECT lang_a, lang_b, sa.nv AS nva, sb.nv AS nvb, n_inter,
        |  ROUND(CAST(n_inter AS DOUBLE)
        |    / CAST(sa.nv + sb.nv - n_inter AS DOUBLE) * 10000)
        |    / 10000 AS jaccard
        |FROM i JOIN sz sa ON sa.lang = i.lang_a
        |JOIN sz sb ON sb.lang = i.lang_b
        |ORDER BY lang_a, lang_b""".stripMargin,
    // Same length-difference counting (identical RE2-safe classes).
    "text_script_profile" ->
      """WITH d AS (SELECT lang, CAST(len(text) AS BIGINT) AS n,
        |    CAST(len(text) - len(regexp_replace(text, '[a-zA-Z]', '',
        |      'g')) AS BIGINT) AS n_alpha,
        |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '',
        |      'g')) AS BIGINT) AS n_digit,
        |    CAST(len(text) - len(regexp_replace(text, ' ', '',
        |      'g')) AS BIGINT) AS n_space
        |  FROM documents),
        |a AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_chars,
        |    CAST(sum(n_alpha) AS BIGINT) AS n_alpha,
        |    CAST(sum(n_digit) AS BIGINT) AS n_digit,
        |    CAST(sum(n_space) AS BIGINT) AS n_space
        |  FROM d GROUP BY 1)
        |SELECT lang, n_chars,
        |  ROUND(CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE)
        |    * 10000) / 10000 AS alpha_share,
        |  ROUND(CAST(n_digit AS DOUBLE) / CAST(n_chars AS DOUBLE)
        |    * 10000) / 10000 AS digit_share,
        |  ROUND(CAST(n_space AS DOUBLE) / CAST(n_chars AS DOUBLE)
        |    * 10000) / 10000 AS space_share,
        |  ROUND(CAST(n_chars - n_alpha - n_digit - n_space AS DOUBLE)
        |    / CAST(n_chars AS DOUBLE) * 10000) / 10000
        |    AS other_share
        |FROM a ORDER BY lang""".stripMargin,
    // Same counts, same bias-corrected form.
    "text_chao1_richness" ->
      """WITH tc AS (SELECT lang, token, count(*) AS c
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
        |    FROM documents) GROUP BY 1, 2)
        |SELECT lang, count(*) AS vocab,
        |  count(*) FILTER (WHERE c = 1) AS hapax,
        |  count(*) FILTER (WHERE c = 2) AS dis,
        |  ROUND((CAST(count(*) AS DOUBLE)
        |    + CAST(count(*) FILTER (WHERE c = 1)
        |        * (count(*) FILTER (WHERE c = 1) - 1) AS DOUBLE)
        |      / (2.0 * CAST(count(*) FILTER (WHERE c = 2) + 1
        |        AS DOUBLE))) * 10000) / 10000 AS chao1
        |FROM tc GROUP BY lang ORDER BY lang""".stripMargin,
    // Same islands, same snapped word scores, same integer phrase
    // sums and ordered LIMIT.
    "text_rake_keywords" ->
      """WITH tk AS (SELECT doc_id, pos, lower(token) AS tok FROM (
        |    SELECT doc_id, unnest(range(len(toks))) AS pos,
        |      unnest(toks) AS token
        |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |      FROM documents))),
        |t2 AS (SELECT *, tok IN ('the', 'a', 'an', 'and', 'or', 'of',
        |    'to', 'in', 'is', 'it', 'that', 'for', 'on', 'with',
        |    'as', 'was', 'at', 'by', 'be', 'this') AS isstop
        |  FROM tk),
        |t3 AS (SELECT doc_id, pos, tok, isstop,
        |    CAST(sum(CASE WHEN isstop THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
        |  FROM t2),
        |isl AS (SELECT doc_id, pos, tok, island FROM t3
        |  WHERE NOT isstop),
        |phr AS (SELECT doc_id, island,
        |    string_agg(tok, ' ' ORDER BY pos) AS phrase,
        |    count(*) AS plen
        |  FROM isl GROUP BY 1, 2),
        |ws AS (SELECT tok,
        |    (CAST(sum(plen) AS BIGINT) * 1000000) // count(*)
        |      AS score6
        |  FROM isl JOIN phr USING (doc_id, island) GROUP BY tok),
        |pt AS (SELECT phrase, count(*) AS n_occurrences FROM phr
        |  GROUP BY 1),
        |px AS (SELECT phrase, n_occurrences,
        |    unnest(string_split(phrase, ' ')) AS wtok FROM pt),
        |ps AS (SELECT phrase, n_occurrences,
        |    CAST(sum(score6) AS BIGINT) AS score6
        |  FROM px JOIN ws ON ws.tok = px.wtok GROUP BY 1, 2)
        |SELECT phrase, n_occurrences, score6,
        |  ROUND(CAST(score6 AS DOUBLE) / 1000000.0 * 10000) / 10000
        |    AS rake_score
        |FROM ps ORDER BY score6 DESC, n_occurrences DESC, phrase
        |LIMIT 20""".stripMargin,
    // Same per-doc bigrams (lead ≡ the transform window), same
    // clipped-count integers.
    "text_bigram_overlap" ->
      """WITH bg AS (SELECT source, bigram, count(*) AS c FROM (
        |    SELECT source, token || ' ' || lead(token)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
        |    FROM (SELECT doc_id, source,
        |        unnest(range(len(toks))) AS pos,
        |        unnest(toks) AS token
        |      FROM (SELECT doc_id, source, string_split(text, ' ')
        |        AS toks FROM documents)))
        |  WHERE bigram IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT bigram, CAST(sum(c) AS BIGINT) AS ctot
        |  FROM bg GROUP BY 1),
        |j AS (SELECT source, c, least(c, ctot - c) AS cmin
        |  FROM bg JOIN tot USING (bigram))
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  CAST(sum(cmin) AS BIGINT) AS n_shared,
        |  ROUND(CAST(CAST(sum(cmin) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) * 10000) / 10000
        |    AS overlap
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    // Same exact bigram counts; the identical (w1, w2)-ordered term
    // fold and 2^H edge.
    "text_ngram_entropy_rate" ->
      """WITH bg AS (SELECT lang, w1, lead(w1)
        |    OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM (SELECT doc_id, lang,
        |      unnest(range(len(toks))) AS pos,
        |      unnest(toks) AS w1
        |    FROM (SELECT doc_id, lang, string_split(text, ' ')
        |      AS toks FROM documents))),
        |c12 AS (SELECT lang, w1, w2, count(*) AS n FROM bg
        |  WHERE w2 IS NOT NULL GROUP BY 1, 2, 3),
        |c1 AS (SELECT lang, w1, CAST(sum(n) AS BIGINT) AS c1
        |  FROM c12 GROUP BY 1, 2),
        |nb AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nb,
        |    count(*) AS vocab_bigrams FROM c12 GROUP BY 1),
        |terms AS (SELECT c12.lang, nb.nb, nb.vocab_bigrams,
        |    {'w1': c12.w1, 'w2': c12.w2,
        |     't': CAST(c12.n AS DOUBLE) / CAST(nb.nb AS DOUBLE)
        |       * log2(CAST(c12.n AS DOUBLE) / CAST(c1.c1 AS DOUBLE))}
        |      AS x
        |  FROM c12 JOIN c1 ON c1.lang = c12.lang AND c1.w1 = c12.w1
        |  JOIN nb ON nb.lang = c12.lang),
        |h AS (SELECT lang, max(nb) AS n_bigrams,
        |    max(vocab_bigrams) AS vocab_bigrams,
        |    -list_aggregate(list_transform(list_sort(list(x)),
        |      z -> z.t), 'sum') AS h
        |  FROM terms GROUP BY 1)
        |SELECT lang, n_bigrams, vocab_bigrams,
        |  ROUND(h * 10000) / 10000 + 0.0 AS entropy_rate_bits,
        |  ROUND(pow(2.0, h) * 10000) / 10000 + 0.0
        |    AS perplexity_rate
        |FROM h ORDER BY lang""".stripMargin,
    // Same 8-token windows (inclusive list slice), exact ratios.
    "text_intradoc_ngram_dup" ->
      """WITH d AS (SELECT source, doc_id,
        |    string_split(text, ' ') AS toks FROM documents),
        |grams AS (SELECT source, doc_id,
        |    unnest(list_transform(range(len(toks) - 7),
        |      i -> array_to_string(toks[i + 1:i + 8], ' '))) AS g
        |  FROM d WHERE len(toks) >= 8),
        |per AS (SELECT source, doc_id, count(*) AS ng,
        |    count(DISTINCT g) AS nd FROM grams GROUP BY 1, 2),
        |shorts AS (SELECT source,
        |    count(*) FILTER (WHERE len(toks) < 8) AS n_docs_short
        |  FROM d GROUP BY 1),
        |a AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(ng) AS BIGINT) AS n_grams,
        |    CAST(sum(nd) AS BIGINT) AS n_distinct,
        |    count(*) FILTER (WHERE nd < ng) AS n_docs_with_repeat
        |  FROM per GROUP BY 1)
        |SELECT a.source, a.n_docs, s.n_docs_short, a.n_grams,
        |  ROUND((1.0 - CAST(a.n_distinct AS DOUBLE)
        |    / CAST(a.n_grams AS DOUBLE)) * 10000) / 10000 + 0.0
        |    AS dup_share,
        |  ROUND(CAST(a.n_docs_with_repeat AS DOUBLE)
        |    / CAST(a.n_docs AS DOUBLE) * 10000) / 10000 + 0.0
        |    AS share_docs_repeat
        |FROM a JOIN shorts s ON s.source = a.source
        |ORDER BY a.source""".stripMargin,
    // Same corpus frequencies and exact < 10 rare test.
    "text_rare_token_share" ->
      """WITH toks AS (SELECT source,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT tok, count(*) AS cf FROM toks GROUP BY 1),
        |j AS (SELECT source, toks.tok,
        |    CASE WHEN cf < 10 THEN 1 ELSE 0 END AS rare
        |  FROM toks JOIN f ON f.tok = toks.tok)
        |SELECT source, count(*) AS n_tokens,
        |  CAST(sum(rare) AS BIGINT) AS n_rare,
        |  count(DISTINCT CASE WHEN rare = 1 THEN tok END)
        |    AS n_rare_types,
        |  ROUND(CAST(sum(rare) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    * 10000) / 10000 AS rare_share
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    // Same quality CTE on the 4dp grid; exact HUGEINT moments.
    "text_quality_length_corr" ->
      """WITH q AS (SELECT
        |    CAST(round((0.4 * least(1.0, nt / 50.0)
        |      + 0.3 * (1.0 - nstop / nt) + 0.3 * (nd / nt))
        |      * 10000) AS BIGINT) AS q4,
        |    CAST(nt AS BIGINT) AS ntok
        |  FROM (SELECT CAST(len(toks) AS DOUBLE) AS nt,
        |      CAST(len(list_filter(toks,
        |        t -> t IN ('the','a','of','to','and','in'))) AS DOUBLE)
        |        AS nstop,
        |      CAST(len(list_distinct(toks)) AS DOUBLE) AS nd
        |    FROM (SELECT string_split(text, ' ') AS toks
        |      FROM documents))),
        |m AS (SELECT count(*) AS n,
        |    CAST(sum(CAST(q4 AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(ntok AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(q4 AS HUGEINT) * q4) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(ntok AS HUGEINT) * ntok) AS HUGEINT)
        |      AS syy,
        |    CAST(sum(CAST(q4 AS HUGEINT) * ntok) AS HUGEINT) AS sxy
        |  FROM q)
        |SELECT n AS n_docs,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 10000)
        |    / 10000 + 0.0 AS quality_length_corr
        |FROM m""".stripMargin,
    // Same dense vocabulary-ordered vectors; list_dot_product ≡ the
    // ArrayDot fold (the sim_norm precedent).
    "text_source_tfidf_cosine" ->
      """WITH toks AS (SELECT source, doc_id,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |nd AS (SELECT count(*) AS nd FROM documents),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS dfc FROM toks
        |  GROUP BY 1),
        |tf AS (SELECT source, tok, count(*) AS tfc FROM toks
        |  GROUP BY 1, 2),
        |grid AS (SELECT s.source, d.tok,
        |    coalesce(tfc, 0)
        |      * ln(CAST(nd AS DOUBLE) / CAST(dfc AS DOUBLE)) AS w
        |  FROM (SELECT DISTINCT source FROM tf) s
        |  CROSS JOIN df d
        |  LEFT JOIN tf ON tf.source = s.source AND tf.tok = d.tok
        |  CROSS JOIN nd),
        |vecs AS (SELECT source, list_transform(
        |    list_sort(list({'tok': tok, 'w': w})), p -> p.w) AS v
        |  FROM grid GROUP BY 1)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  ROUND(list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |      * sqrt(list_dot_product(b.v, b.v))) * 10000) / 10000
        |    AS cosine
        |FROM vecs a JOIN vecs b ON a.source < b.source
        |ORDER BY source_a, source_b""".stripMargin,
    // Same lang counts, argmax order, and sorted-count entropy fold.
    "text_lang_source_mix" ->
      """WITH c AS (SELECT source, lang, count(*) AS n FROM documents
        |  GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY n DESC, lang) AS rk FROM c),
        |top AS (SELECT source, lang AS top_lang, n AS top_n FROM rk
        |  WHERE rk = 1),
        |g AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |    count(*) AS n_langs, list_sort(list(n)) AS cs
        |  FROM c GROUP BY 1)
        |SELECT g.source, n_docs, n_langs, top_lang,
        |  ROUND(CAST(top_n AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |    * 10000) / 10000 AS top_share,
        |  ROUND((log2(n_docs)
        |    - list_aggregate(list_transform(cs, x -> x * log2(x)),
        |        'sum') / n_docs) * 10000) / 10000 + 0.0
        |    AS lang_entropy_bits
        |FROM g JOIN top ON top.source = g.source
        |ORDER BY g.source""".stripMargin,
    // Same per-doc-distinct 8-gram table, df ≥ 2 match, and exact
    // 2·shared ≥ distinct majority test.
    "text_crossdoc_ngram_share" ->
      """WITH d AS (SELECT source, doc_id,
        |    string_split(text, ' ') AS toks FROM documents),
        |grams AS (SELECT DISTINCT source, doc_id,
        |    unnest(list_transform(range(len(toks) - 7),
        |      i -> array_to_string(toks[i + 1:i + 8], ' '))) AS g
        |  FROM d WHERE len(toks) >= 8),
        |df AS (SELECT g, count(DISTINCT doc_id) AS gdocs FROM grams
        |  GROUP BY 1),
        |per AS (SELECT source, doc_id, count(*) AS nd,
        |    count(*) FILTER (WHERE gdocs >= 2) AS nshared
        |  FROM grams JOIN df USING (g) GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(nd) AS BIGINT) AS n_distinct_grams,
        |  CAST(sum(nshared) AS BIGINT) AS n_shared_grams,
        |  ROUND(CAST(sum(nshared) AS DOUBLE)
        |    / CAST(sum(nd) AS DOUBLE) * 10000) / 10000 + 0.0
        |    AS share_shared,
        |  count(*) FILTER (WHERE nshared * 2 >= nd)
        |    AS n_docs_majority_shared
        |FROM per GROUP BY source ORDER BY source""".stripMargin,
    // Same per-doc-distinct bigram table (lead-window spelling), the
    // identical df ≥ 2 match and exact ≥ ½ test.
    "text_self_bleu_lite" ->
      """WITH db AS (SELECT DISTINCT source, doc_id, bigram FROM (
        |    SELECT source, doc_id, token || ' ' || lead(token)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
        |    FROM (SELECT doc_id, source,
        |        unnest(range(len(toks))) AS pos,
        |        unnest(toks) AS token
        |      FROM (SELECT doc_id, source, string_split(text, ' ')
        |        AS toks FROM documents)))
        |  WHERE bigram IS NOT NULL),
        |df AS (SELECT source, bigram, count(*) AS df FROM db
        |  GROUP BY 1, 2),
        |per AS (SELECT d.source, d.doc_id, count(*) AS nb,
        |    count(*) FILTER (WHERE f.df >= 2) AS nm
        |  FROM db d JOIN df f
        |    ON f.source = d.source AND f.bigram = d.bigram
        |  GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(nb) AS BIGINT) AS n_distinct_bigrams,
        |  CAST(sum(nm) AS BIGINT) AS n_matched,
        |  ROUND(CAST(CAST(sum(nm) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(nb) AS BIGINT) AS DOUBLE) * 10000) / 10000
        |    AS self_bleu2_micro,
        |  ROUND(CAST(count(*) FILTER (WHERE nm * 2 >= nb) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 10000) / 10000
        |    AS share_high_overlap
        |FROM per GROUP BY source ORDER BY source""".stripMargin,
    // Same fixed list, same counts, one division.
    "text_lexical_density" ->
      """WITH tk AS (SELECT lang,
        |    unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT lang, count(*) AS n_tokens,
        |  count(*) FILTER (WHERE lower(tok) IN ('the', 'a', 'an',
        |    'and', 'or', 'of', 'to', 'in', 'is', 'it', 'that', 'for',
        |    'on', 'with', 'as', 'was', 'at', 'by', 'be', 'this'))
        |    AS n_stop,
        |  ROUND((1.0 - CAST(count(*) FILTER (WHERE lower(tok) IN
        |    ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is',
        |     'it', 'that', 'for', 'on', 'with', 'as', 'was', 'at',
        |     'by', 'be', 'this')) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE)) * 10000) / 10000
        |    AS lexical_density
        |FROM tk GROUP BY lang ORDER BY lang""".stripMargin,
    // Same count reduce; HUGEINT moments, one double chain.
    "text_yule_k" ->
      """WITH tc AS (SELECT lang, token, count(*) AS c
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
        |    FROM documents) GROUP BY 1, 2)
        |SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS vocab,
        |  ROUND(10000.0
        |    * CAST(CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT)
        |        - CAST(sum(c) AS HUGEINT) AS DOUBLE)
        |    / CAST(CAST(sum(c) AS HUGEINT) * CAST(sum(c) AS HUGEINT)
        |        AS DOUBLE)
        |    * 10000) / 10000 AS yule_k
        |FROM tc GROUP BY lang ORDER BY lang""".stripMargin,
    "text_vocab_growth" ->
      """WITH docs AS (SELECT doc_id,
        |    string_split(text, ' ') AS toks,
        |    row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM documents),
        |nn AS (SELECT count(*) AS n FROM docs),
        |bounds AS (SELECT i AS decile, (n * i) // 10 AS bound
        |  FROM (SELECT unnest(range(1, 11)) AS i), nn),
        |fr AS (SELECT token, min(rn) AS first_rn
        |  FROM (SELECT rn, unnest(toks) AS token FROM docs) GROUP BY 1),
        |va AS (SELECT decile, bound,
        |    count(*) FILTER (WHERE first_rn <= bound) AS cum_vocab
        |  FROM fr CROSS JOIN bounds GROUP BY 1, 2),
        |ta AS (SELECT decile,
        |    CAST(sum(CASE WHEN rn <= bound THEN len(toks) ELSE 0 END)
        |      AS BIGINT) AS cum_tokens
        |  FROM docs CROSS JOIN bounds GROUP BY 1)
        |SELECT va.decile, bound AS n_docs, cum_tokens, cum_vocab
        |FROM va JOIN ta ON va.decile = ta.decile
        |ORDER BY va.decile""".stripMargin,
    "text_token_burstiness" ->
      """WITH nd AS (SELECT count(*) AS n_docs FROM documents),
        |pd AS (SELECT token, doc_id, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents) GROUP BY 1, 2),
        |st AS (SELECT token, count(*) AS docs_with,
        |    CAST(sum(c) AS BIGINT) AS total,
        |    CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM pd GROUP BY 1),
        |top AS (SELECT * FROM st ORDER BY total DESC, token LIMIT 20)
        |SELECT token, total, docs_with,
        |  ROUND(CAST(n_docs * ss - total * total AS DOUBLE)
        |    / CAST(n_docs * total AS DOUBLE) * 10000) / 10000
        |    AS dispersion
        |FROM top, nd ORDER BY total DESC, token""".stripMargin,
    "text_js_drift" ->
      """WITH tok AS (SELECT source,
        |    unnest(string_split(text, ' ')) AS token FROM documents),
        |gl AS (SELECT token, count(*) AS cg FROM tok GROUP BY 1),
        |ng AS (SELECT count(*) AS ng FROM tok),
        |sr AS (SELECT source, token, count(*) AS cs FROM tok GROUP BY 1, 2),
        |nsr AS (SELECT source, count(*) AS ns FROM tok GROUP BY 1),
        |j AS (SELECT sr.source, nsr.ns,
        |    CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE) AS p,
        |    CAST(cg AS DOUBLE) / CAST(ng AS DOUBLE) AS q
        |  FROM sr JOIN gl USING (token)
        |  JOIN nsr ON nsr.source = sr.source, ng),
        |k AS (SELECT source, ns, p, q, (p + q) / 2 AS m FROM j)
        |SELECT source, CAST(max(ns) AS BIGINT) AS n_tokens,
        |  ROUND((sum(0.5 * p * log2(p / m) + 0.5 * q * log2(q / m))
        |    + 0.5 * (1.0 - sum(q))) * 10000) / 10000 AS js_div
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
    "text_token_counts" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY token""".stripMargin,
    "text_doc_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars,
        |  ROUND(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*), 4) AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_heavy_hitters" ->
      """WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT token, count(*) AS n_docs_with,
        |  ROUND(CAST(count(*) AS DOUBLE) / n_docs * 10000) / 10000 AS doc_frac
        |FROM tok CROSS JOIN n
        |GROUP BY token, n_docs HAVING count(*) * 4 > n_docs
        |ORDER BY token""".stripMargin,
    "text_ngrams" ->
      """SELECT bigram, count(*) AS n FROM (
        |  SELECT token || ' ' || lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
        |  FROM (SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS token
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)))
        |WHERE bigram IS NOT NULL GROUP BY bigram ORDER BY bigram""".stripMargin,
    "text_tf" ->
      """SELECT doc_id, token, cnt,
        |  ROUND(CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY doc_id), 4) AS tf
        |FROM (SELECT doc_id, token, count(*) AS cnt
        |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |      GROUP BY 1, 2)
        |ORDER BY doc_id, token""".stripMargin,
    "text_tfidf_topterm" ->
      """WITH cnt AS (SELECT doc_id, token, count(*) AS cnt
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY 1, 2),
        |tf AS (SELECT doc_id, token,
        |  CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY doc_id) AS tf FROM cnt),
        |dfreq AS (SELECT token, count(*) AS df FROM cnt GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, token, ROUND(score, 4) AS score FROM (
        |  SELECT doc_id, tf.token AS token,
        |    tf.tf * ln(CAST(n_docs AS DOUBLE) / df) AS score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf.tf * ln(CAST(n_docs AS DOUBLE) / df) DESC, tf.token) AS rn
        |  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN nd)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // Rank on the RAW score (identical IEEE doubles from identical
    // integer operands); round only the reported bm25.
    "text_bm25" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS token FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        |tfd AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |  WHERE token IN ('merge', 'window', 'spark') GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS df FROM tfd GROUP BY 1),
        |ns AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT)
        |    AS sum_dl FROM dl),
        |sc AS (SELECT token, doc_id, tf, dl,
        |    ln(1.0 + CAST(n_docs - df + 0.5 AS DOUBLE)
        |        / CAST(df + 0.5 AS DOUBLE))
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) + 1.2
        |        * (0.25 + 0.75 * CAST(dl AS DOUBLE)
        |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        |      AS score
        |  FROM tfd JOIN dl USING (doc_id) JOIN dfq USING (token)
        |  CROSS JOIN ns),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY token
        |    ORDER BY score DESC, doc_id) AS rn FROM sc)
        |SELECT token, doc_id, tf, dl,
        |  ROUND(score * 10000) / 10000 AS bm25
        |FROM rk WHERE rn <= 20
        |ORDER BY token, score DESC, doc_id""".stripMargin,
    "dedup_exact_text" ->
      """SELECT h, count(*) AS n_docs, min(doc_id) AS canon_doc FROM (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h
        |  FROM documents)
        |GROUP BY h HAVING count(*) > 1 ORDER BY h""".stripMargin,
    // Same blocking key, rank window, and exact set Jaccard.
    "dedup_sorted_neighborhood" ->
      """WITH d AS (SELECT doc_id,
        |    list_sort(list_distinct(string_split(text, ' ')))
        |      AS toks FROM documents),
        |k AS (SELECT doc_id, toks,
        |    substring(array_to_string(toks, ' '), 1, 32) AS skey
        |  FROM d),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY skey,
        |    doc_id) AS BIGINT) AS rn FROM k),
        |c AS (SELECT a.doc_id AS di0, b.doc_id AS dj0,
        |    a.toks AS ta, b.toks AS tb
        |  FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 4),
        |j AS (SELECT least(di0, dj0) AS doc_i,
        |    greatest(di0, dj0) AS doc_j,
        |    CAST(len(list_intersect(ta, tb)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(ta, tb)))
        |        AS DOUBLE) AS jac
        |  FROM c)
        |SELECT doc_i, doc_j, ROUND(jac * 10000) / 10000 AS jac
        |FROM j WHERE jac >= 0.7 ORDER BY doc_i, doc_j""".stripMargin,
    // Same three canonicalization tiers and distinct counts.
    "dedup_tier_report" ->
      """WITH c AS (SELECT source, text,
        |    array_to_string(list_sort(string_split(text, ' ')), ' ')
        |      AS bag,
        |    array_to_string(list_sort(list_distinct(
        |      string_split(text, ' '))), ' ') AS tokset
        |  FROM documents),
        |g AS (SELECT source, count(*) AS n_docs,
        |    count(DISTINCT text) AS n_unique_texts,
        |    count(DISTINCT bag) AS n_unique_bags,
        |    count(DISTINCT tokset) AS n_unique_sets
        |  FROM c GROUP BY 1)
        |SELECT source, n_docs, n_unique_texts, n_unique_bags,
        |  n_unique_sets,
        |  n_docs - n_unique_texts AS n_exact_dups,
        |  n_unique_texts - n_unique_bags AS n_reorder_dups,
        |  n_unique_bags - n_unique_sets AS n_multiplicity_dups
        |FROM g ORDER BY source""".stripMargin,
    // Same set-signature groups; same 20-token clamped bands.
    "dedup_rate_by_length" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |    md5(array_to_string(list_sort(list_distinct(
        |      string_split(text, ' '))), ' ')) AS h
        |  FROM documents),
        |c AS (SELECT h, min(doc_id) AS canon_doc FROM d GROUP BY 1),
        |j AS (SELECT least(ntok // 20, 4) AS band,
        |    CASE WHEN d.doc_id <> c.canon_doc THEN 1 ELSE 0 END
        |      AS is_dup
        |  FROM d JOIN c USING (h))
        |SELECT band, band * 20 AS band_lo_tokens,
        |  count(*) AS n_docs, CAST(sum(is_dup) AS BIGINT) AS n_dups,
        |  ROUND(CAST(sum(is_dup) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    * 10000) / 10000 AS dup_share
        |FROM j GROUP BY band ORDER BY band""".stripMargin,
    // Same exact pair table at 0.7; floor(jac·20) band, clamped.
    "dedup_similarity_histogram" ->
      s"""WITH $tokCte,
         |p AS (SELECT CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) AS jac
         |  FROM inter JOIN sizes sa ON i = sa.doc_id
         |  JOIN sizes sb ON j = sb.doc_id),
         |b AS (SELECT least(CAST(floor(jac * 20) AS BIGINT), 19)
         |    AS band
         |  FROM p WHERE jac >= 0.7)
         |SELECT band,
         |  ROUND(CAST(band AS DOUBLE) / 20.0 * 10000) / 10000
         |    AS band_lo,
         |  count(*) AS n_pairs
         |FROM b GROUP BY band ORDER BY band""".stripMargin,
    "dedup_near_jaccard" ->
      s"""WITH $tokCte
         |SELECT i AS doc_i, j AS doc_j, ROUND(jac, 4) AS jac FROM (
         |  SELECT i, j, CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) AS jac
         |  FROM inter JOIN sizes sa ON i = sa.doc_id JOIN sizes sb ON j = sb.doc_id)
         |WHERE jac >= 0.8 ORDER BY doc_i, doc_j""".stripMargin,
    // Round-16 enrollment: at 16 bands × 2 rows the banding recall at
    // J ≥ 0.8 is 1 − (1 − J²)¹⁶ ≥ 0.9999999 and the seeded signatures
    // are deterministic, so the LSH output EQUALS the exact-Jaccard
    // pair table on this corpus (measured identical at all three SFs;
    // PropertySpec pins the same equality) — the exact oracle applies
    // verbatim, and a recall miss would surface as a missing row.
    "dedup_minhash_lsh" ->
      s"""WITH $tokCte
         |SELECT i AS doc_i, j AS doc_j, ROUND(jac, 4) AS jac FROM (
         |  SELECT i, j, CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) AS jac
         |  FROM inter JOIN sizes sa ON i = sa.doc_id JOIN sizes sb ON j = sb.doc_id)
         |WHERE jac >= 0.8 ORDER BY doc_i, doc_j""".stripMargin,
    // Incremental index ≡ batch on the union (stored base pairs +
    // delta-joined new pairs cover every pair of the full corpus), so
    // the SAME exact all-pairs Jaccard oracle applies verbatim.
    "dedup_incremental_index" ->
      s"""WITH $tokCte
         |SELECT i AS doc_i, j AS doc_j, ROUND(jac, 4) AS jac FROM (
         |  SELECT i, j, CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) AS jac
         |  FROM inter JOIN sizes sa ON i = sa.doc_id JOIN sizes sb ON j = sb.doc_id)
         |WHERE jac >= 0.8 ORDER BY doc_i, doc_j""".stripMargin,
    // Exact pairs → recursive-CTE components → survivors → the same
    // ORDER BY (skey, doc_id) prefix-sum pack window.
    "pipeline_dedup_pack_e2e" ->
      s"""WITH RECURSIVE $tokCte,
         |p AS (SELECT i, j FROM (
         |    SELECT i, j, CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) AS jac
         |    FROM inter JOIN sizes sa ON i = sa.doc_id JOIN sizes sb ON j = sb.doc_id)
         |  WHERE jac >= 0.8),
         |edges AS (SELECT i, j FROM p UNION ALL SELECT j AS i, i AS j FROM p),
         |reach(doc, lab) AS (
         |  SELECT doc_id, doc_id FROM (SELECT DISTINCT doc_id FROM documents
         |                              WHERE doc_id < 1000)
         |  UNION
         |  SELECT e.j, r.lab FROM reach r JOIN edges e ON e.i = r.doc),
         |canon AS (SELECT doc AS doc_id, min(lab) AS canon FROM reach
         |  GROUP BY doc),
         |surv AS (SELECT d.doc_id,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |    md5(CAST(d.doc_id AS VARCHAR)) AS skey
         |  FROM documents d JOIN canon c ON d.doc_id = c.doc_id
         |  WHERE c.canon = d.doc_id AND d.doc_id < 1000),
         |c2 AS (SELECT doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY skey, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM surv)
         |SELECT doc_id, n_tokens, cum - n_tokens AS start_off,
         |  (cum - n_tokens) // 2048 AS bin
         |FROM c2 ORDER BY doc_id""".stripMargin,
    // Connected components as a recursive label-reachability CTE:
    // reach(doc, lab) = transitive closure of "lab reaches doc" over the
    // undirected pair graph; canon = min reachable label.
    "dedup_cluster_canon" ->
      s"""WITH RECURSIVE $tokCte,
         |p AS (SELECT i, j FROM (
         |    SELECT i, j, CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) AS jac
         |    FROM inter JOIN sizes sa ON i = sa.doc_id JOIN sizes sb ON j = sb.doc_id)
         |  WHERE jac >= 0.8),
         |edges AS (SELECT i, j FROM p UNION ALL SELECT j AS i, i AS j FROM p),
         |reach(doc, lab) AS (
         |  SELECT doc_id, doc_id FROM (SELECT DISTINCT doc_id FROM documents
         |                              WHERE doc_id < 1000)
         |  UNION
         |  SELECT e.j, r.lab FROM reach r JOIN edges e ON e.i = r.doc)
         |SELECT doc AS doc_id, min(lab) AS canon FROM reach
         |GROUP BY doc ORDER BY doc_id""".stripMargin,
    // Incremental star-edge merge ≡ the full recompute, so the SAME
    // recursive label-reachability canon applies verbatim.
    "dedup_incremental_cluster" ->
      s"""WITH RECURSIVE $tokCte,
         |p AS (SELECT i, j FROM (
         |    SELECT i, j, CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) AS jac
         |    FROM inter JOIN sizes sa ON i = sa.doc_id JOIN sizes sb ON j = sb.doc_id)
         |  WHERE jac >= 0.8),
         |edges AS (SELECT i, j FROM p UNION ALL SELECT j AS i, i AS j FROM p),
         |reach(doc, lab) AS (
         |  SELECT doc_id, doc_id FROM (SELECT DISTINCT doc_id FROM documents
         |                              WHERE doc_id < 1000)
         |  UNION
         |  SELECT e.j, r.lab FROM reach r JOIN edges e ON e.i = r.doc)
         |SELECT doc AS doc_id, min(lab) AS canon FROM reach
         |GROUP BY doc ORDER BY doc_id""".stripMargin,
    // Same dictionary shape: word counts first, pairs exploded over the
    // distinct-word dictionary only. 1-based substr on both engines.
    "text_bpe_pair_counts" ->
      """WITH wc AS (SELECT word, count(*) AS wn
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) >= 2 GROUP BY word),
        |p AS (SELECT wn, word, unnest(range(1, length(word))) AS i FROM wc)
        |SELECT substr(word, CAST(i AS INT), 2) AS pair,
        |  CAST(sum(wn) AS BIGINT) AS n
        |FROM p GROUP BY 1 ORDER BY n DESC, pair""".stripMargin,
    // Same byte-distinct prefixes (decomposed then precomposed);
    // DuckDB's nfc_normalize mirrors java.text.Normalizer NFC.
    "text_unicode_normalize" ->
      """WITH m AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'résumé '
        |         ELSE 'résumé ' END || text AS raw
        |  FROM documents)
        |SELECT doc_id, length(raw) AS raw_len,
        |  length(nfc_normalize(raw)) AS norm_len,
        |  CAST(raw <> nfc_normalize(raw) AS BIGINT) AS changed,
        |  md5(nfc_normalize(raw)) AS norm_fp
        |FROM m ORDER BY doc_id""".stripMargin,
    // Same top-1000 head; the four moment sums run over rank-ORDERED
    // lists so the double fold order matches the Spark side's sorted
    // aggregate() exactly (the entropy-key convention).
    "text_zipf_slope" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
        |r AS (SELECT token, c,
        |    row_number() OVER (ORDER BY c DESC, token) AS i FROM c),
        |top AS (SELECT * FROM r WHERE i <= 1000),
        |l AS (SELECT count(*) AS n_terms,
        |    list(ln(CAST(i AS DOUBLE)) ORDER BY i) AS xs,
        |    list(ln(CAST(c AS DOUBLE)) ORDER BY i) AS ys,
        |    list(ln(CAST(i AS DOUBLE)) * ln(CAST(i AS DOUBLE))
        |      ORDER BY i) AS xxs,
        |    list(ln(CAST(i AS DOUBLE)) * ln(CAST(c AS DOUBLE))
        |      ORDER BY i) AS xys
        |  FROM top),
        |m AS (SELECT n_terms, CAST(n_terms AS DOUBLE) AS nn,
        |    list_aggregate(xs, 'sum') AS sx,
        |    list_aggregate(ys, 'sum') AS sy,
        |    list_aggregate(xxs, 'sum') AS sxx,
        |    list_aggregate(xys, 'sum') AS sxy FROM l),
        |f AS (SELECT n_terms, nn, sx, sy,
        |    (nn * sxy - sx * sy) / (nn * sxx - sx * sx) AS b
        |  FROM m WHERE n_terms > 1)
        |SELECT n_terms,
        |  ROUND(b * 10000.0) / 10000.0 AS zipf_slope,
        |  ROUND((sy - b * sx) / nn * 10000.0) / 10000.0 AS intercept
        |FROM f""".stripMargin,
    "text_readability" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
        |      AS n_words,
        |    greatest(CAST(len(regexp_extract_all(lower(text), '[.!?]+'))
        |      AS BIGINT), 1) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  ROUND((206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE)
        |      / CAST(n_sentences AS DOUBLE))
        |    - 84.6 * (CAST(n_syllables AS DOUBLE)
        |      / CAST(n_words AS DOUBLE))) * 10000.0) / 10000.0 AS flesch
        |FROM d WHERE n_words > 0 ORDER BY doc_id""".stripMargin,
    // One log2 of an exact integer rational per pair — the fold-order
    // machinery is unnecessary here (no sum of irrationals).
    "text_cooccurrence_pmi" ->
      """WITH bi AS (
        |  SELECT tok AS a, lead(tok) OVER (PARTITION BY doc_id
        |      ORDER BY pos) AS b
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |        generate_subscripts(string_split(text, ' '), 1) AS pos
        |      FROM documents)),
        |bb AS (SELECT a, b FROM bi WHERE b IS NOT NULL),
        |pr AS (SELECT a, b, count(*) AS nab FROM bb GROUP BY 1, 2),
        |la AS (SELECT a, count(*) AS na FROM bb GROUP BY 1),
        |rb AS (SELECT b, count(*) AS nb FROM bb GROUP BY 1),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bb)
        |SELECT a, b, CAST(nab AS BIGINT) AS nab,
        |  ROUND(log2(CAST(nab AS DOUBLE) * CAST(t AS DOUBLE)
        |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) * 10000.0)
        |    / 10000.0 AS pmi
        |FROM pr JOIN la USING (a) JOIN rb USING (b), tt
        |WHERE nab >= 5
        |ORDER BY pmi DESC, a, b LIMIT 25""".stripMargin,
    // Same ascending fold as the entropy oracle: list_sort, in-order
    // list sum of log2(cf); T cast (HUGEINT lesson).
    // Position-aligned unnest (the text_ngrams convention) + lag for
    // the context; the mixture expression and the sorted-fold are
    // operand-for-operand the Spark spelling.
    "text_perplexity_bigram" ->
      """WITH tk AS (SELECT doc_id, unnest(range(len(toks))) AS pos,
        |    unnest(toks) AS tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |seq AS (SELECT doc_id, pos, tok,
        |    lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM tk),
        |bg AS (SELECT prev, tok, count(*) AS nb FROM seq
        |  WHERE prev IS NOT NULL GROUP BY 1, 2),
        |ctx AS (SELECT prev, CAST(sum(nb) AS BIGINT) AS np
        |  FROM bg GROUP BY 1),
        |cf AS (SELECT tok, count(*) AS cf FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tk),
        |terms AS (SELECT s.doc_id,
        |    0.75 * (CAST(nb AS DOUBLE) / CAST(np AS DOUBLE))
        |      + 0.25 * (CAST(cf AS DOUBLE) / CAST(t AS DOUBLE)) AS p
        |  FROM seq s
        |  JOIN bg ON bg.prev = s.prev AND bg.tok = s.tok
        |  JOIN ctx ON ctx.prev = s.prev
        |  JOIN cf ON cf.tok = s.tok
        |  CROSS JOIN tot
        |  WHERE s.prev IS NOT NULL),
        |d AS (SELECT doc_id, count(*) AS n, list_sort(list(p)) AS ps
        |  FROM terms GROUP BY doc_id)
        |SELECT doc_id, n AS n_bigrams,
        |  ROUND(((-(list_aggregate(list_transform(ps, x -> log2(x)),
        |    'sum'))) / n) * 10000.0) / 10000.0 AS nll_bits
        |FROM d ORDER BY doc_id""".stripMargin,
    "text_perplexity_unigram" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |cf AS (SELECT tok, count(*) AS cf FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tk),
        |d AS (SELECT doc_id, count(*) AS n, list_sort(list(cf)) AS cs
        |  FROM tk JOIN cf USING (tok) GROUP BY doc_id)
        |SELECT doc_id, n AS n_tokens,
        |  ROUND((log2(t)
        |    - list_aggregate(list_transform(cs, x -> log2(x)), 'sum') / n)
        |    * 10000.0) / 10000.0 AS nll_bits
        |FROM d, tot ORDER BY doc_id""".stripMargin,
    // Exact (lang, length) cells; one division per cell.
    "text_word_length_profile" ->
      """WITH cells AS (SELECT lang, CAST(length(token) AS BIGINT)
        |    AS wlen, count(*) AS n
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
        |    FROM documents) GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS total
        |  FROM cells GROUP BY 1)
        |SELECT lang, wlen, n,
        |  ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) * 10000)
        |    / 10000 AS share
        |FROM cells JOIN t USING (lang) ORDER BY lang, wlen""".stripMargin,
    // Per-doc agg_entropy_mix fold over char counts; string_split on
    // '' yields the char list in both engines.
    "text_char_entropy" ->
      """WITH c AS (SELECT doc_id, ch, count(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, '')) AS ch
        |    FROM documents WHERE length(text) > 0) GROUP BY 1, 2),
        |g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
        |    count(*) AS n_distinct, list_sort(list(c)) AS cs
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_chars, n_distinct,
        |  ROUND(log2(n_chars)
        |    - list_aggregate(list_transform(cs, x -> x * log2(x)), 'sum')
        |      / n_chars, 4) + 0.0 AS entropy_bits
        |FROM g ORDER BY doc_id""".stripMargin,
    // Frequency-histogram cumulatives + the struct-min cut device;
    // coverage one division of exact integers.
    "text_ngram_coverage_curve" ->
      """WITH tc AS (SELECT token, count(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token
        |    FROM documents) GROUP BY token),
        |hist AS (SELECT c, count(*) AS types FROM tc GROUP BY c),
        |cum AS (SELECT c,
        |    CAST(sum(types) OVER (ORDER BY c DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumv,
        |    CAST(sum(c * types) OVER (ORDER BY c DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumm
        |  FROM hist),
        |g AS (SELECT CAST(sum(types) AS BIGINT) AS vocab,
        |    CAST(sum(c * types) AS BIGINT) AS total FROM hist),
        |ks AS (SELECT CAST(power(10, unnest(range(1, 5))) AS BIGINT)
        |    AS k),
        |cut AS (SELECT k, vocab, total,
        |    min(struct_pack(cumv := cumv, cumm := cumm, c := c)) AS cc
        |  FROM ks CROSS JOIN g JOIN cum ON cumv >= least(k, vocab)
        |  GROUP BY 1, 2, 3)
        |SELECT k, vocab, cc.c AS freq_cut, cc.cumv AS types_at_cut,
        |  cc.cumm AS tokens_at_cut,
        |  ROUND(CAST(cc.cumm AS DOUBLE) / CAST(total AS DOUBLE)
        |    * 10000) / 10000 AS coverage
        |FROM cut ORDER BY k""".stripMargin,
    // Same quarter-unit discount and model tables; per-position p and
    // the sorted per-doc fold spelled operand-for-operand.
    "text_perplexity_kneser_ney" ->
      """WITH tk AS (SELECT doc_id, unnest(range(len(toks))) AS pos,
        |    unnest(toks) AS tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |    FROM documents)),
        |seq AS (SELECT doc_id, tok,
        |    lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM tk),
        |bg AS (SELECT prev, tok, count(*) AS nb FROM seq
        |  WHERE prev IS NOT NULL GROUP BY 1, 2),
        |ctx AS (SELECT prev, CAST(sum(nb) AS BIGINT) AS np,
        |    count(*) AS nt FROM bg GROUP BY 1),
        |cont AS (SELECT tok, count(*) AS ncont FROM bg GROUP BY 1),
        |nbt AS (SELECT count(*) AS nbt FROM bg),
        |ps AS (SELECT s.doc_id,
        |    CAST(b.nb * 4 - 3 AS DOUBLE) / CAST(c.np * 4 AS DOUBLE)
        |      + CAST(c.nt * 3 AS DOUBLE) / CAST(c.np * 4 AS DOUBLE)
        |        * (CAST(n.ncont AS DOUBLE) / CAST(nbt.nbt AS DOUBLE))
        |      AS p
        |  FROM seq s
        |  JOIN bg b ON b.prev = s.prev AND b.tok = s.tok
        |  JOIN ctx c ON c.prev = s.prev
        |  JOIN cont n ON n.tok = s.tok
        |  CROSS JOIN nbt
        |  WHERE s.prev IS NOT NULL)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  ROUND(-list_aggregate(list_transform(list_sort(list(p)),
        |      x -> log2(x)), 'sum') / count(*) * 10000) / 10000 + 0.0
        |    AS nll_bits
        |FROM ps GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Same integer decile cut and bigram window; ratios of exact
    // counts.
    "text_ngram_novelty_decay" ->
      """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        |bgs AS (SELECT (doc_id * 10) // (mx + 1) AS decile,
        |    token || ' ' || lead(token) OVER (PARTITION BY doc_id
        |      ORDER BY pos) AS bg
        |  FROM (SELECT doc_id, unnest(range(len(toks))) AS pos,
        |      unnest(toks) AS token
        |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |      FROM documents WHERE len(string_split(text, ' ')) >= 2))
        |  CROSS JOIN mx),
        |occ AS (SELECT bg, decile, count(*) AS n FROM bgs
        |  WHERE bg IS NOT NULL GROUP BY 1, 2),
        |fst AS (SELECT bg, min(decile) AS fd FROM occ GROUP BY 1)
        |SELECT decile, CAST(sum(n) AS BIGINT) AS n_occ,
        |  CAST(sum(CASE WHEN decile = fd THEN n ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  ROUND(CAST(CAST(sum(CASE WHEN decile = fd THEN n ELSE 0 END)
        |      AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) * 10000) / 10000
        |    AS novelty
        |FROM occ JOIN fst USING (bg)
        |GROUP BY decile ORDER BY decile""".stripMargin,
    // Same integer numerator/norms (HUGEINT), one cosine chain,
    // bottom-3 rank per source.
    "text_source_outlier_score" ->
      """WITH dt AS (SELECT doc_id, source, tk, count(*) AS dt
        |  FROM (SELECT doc_id, source,
        |      unnest(string_split(text, ' ')) AS tk FROM documents)
        |  GROUP BY 1, 2, 3),
        |sv AS (SELECT source, tk, CAST(sum(dt) AS BIGINT) AS cs
        |  FROM dt GROUP BY 1, 2),
        |ss AS (SELECT source,
        |    CAST(sum(CAST(cs AS HUGEINT) * cs) AS HUGEINT) AS ss2
        |  FROM sv GROUP BY 1),
        |per AS (SELECT d.source, d.doc_id,
        |    CAST(sum(CAST(d.dt AS HUGEINT) * v.cs) AS HUGEINT) AS num,
        |    CAST(sum(CAST(d.dt AS HUGEINT) * d.dt) AS HUGEINT) AS dd2
        |  FROM dt d JOIN sv v ON v.source = d.source AND v.tk = d.tk
        |  GROUP BY 1, 2),
        |cosd AS (SELECT p.source, p.doc_id,
        |    CAST(num AS DOUBLE)
        |      / (sqrt(CAST(dd2 AS DOUBLE)) * sqrt(CAST(ss2 AS DOUBLE)))
        |      AS cos
        |  FROM per p JOIN ss ON ss.source = p.source),
        |r AS (SELECT source, doc_id, cos,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY cos, doc_id) AS rk
        |  FROM cosd)
        |SELECT source, rk, doc_id,
        |  ROUND(cos * 10000) / 10000 AS cos
        |FROM r WHERE rk <= 3 ORDER BY source, rk""".stripMargin,
    // Same top-50 candidate spine and per-row log-odds chain; ranks
    // over the bounded (source × 50) table.
    "text_odds_ratio_keywords" ->
      """WITH tok AS (SELECT source,
        |    unnest(string_split(text, ' ')) AS tk FROM documents),
        |gl AS (SELECT tk, count(*) AS cw FROM tok GROUP BY 1),
        |top AS (SELECT tk, cw FROM gl ORDER BY cw DESC, tk LIMIT 50),
        |ns AS (SELECT source, count(*) AS ns FROM tok GROUP BY 1),
        |nn AS (SELECT count(*) AS nN FROM tok),
        |cs AS (SELECT source, tk, count(*) AS csw
        |  FROM tok JOIN (SELECT tk FROM top) USING (tk) GROUP BY 1, 2),
        |rows0 AS (SELECT n.source, t.tk, coalesce(c.csw, 0) AS csw,
        |    n.ns, t.cw, nn.nN
        |  FROM ns n CROSS JOIN top t
        |  LEFT JOIN cs c ON c.source = n.source AND c.tk = t.tk
        |  CROSS JOIN nn),
        |z AS (SELECT source, tk, csw,
        |    (ln(CAST(csw + 1 AS DOUBLE)
        |        / CAST(ns + 50 - csw - 1 AS DOUBLE))
        |      - ln(CAST(cw + 1 AS DOUBLE)
        |        / CAST(nN + 50 - cw - 1 AS DOUBLE)))
        |    / sqrt(1.0 / CAST(csw + 1 AS DOUBLE)
        |      + 1.0 / CAST(cw + 1 AS DOUBLE)) AS z
        |  FROM rows0),
        |r AS (SELECT source, tk, csw, z,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY z DESC, tk) AS rk
        |  FROM z)
        |SELECT source, rk, tk AS word, csw,
        |  ROUND(z * 10000) / 10000 + 0.0 AS z
        |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin,
    // Same top-20 marker set, per-mille rates, struct-sorted folds
    // for mean/var and the per-pair |z| mean (the markov-key device).
    "text_burrows_delta" ->
      """WITH tok AS (SELECT source,
        |    unnest(string_split(text, ' ')) AS tk FROM documents),
        |top AS (SELECT tk FROM (SELECT tk, count(*) AS cg FROM tok
        |  GROUP BY 1 ORDER BY cg DESC, tk LIMIT 20)),
        |ns AS (SELECT source, count(*) AS ns FROM tok GROUP BY 1),
        |cs AS (SELECT source, tk, count(*) AS c
        |  FROM tok JOIN top USING (tk) GROUP BY 1, 2),
        |rf AS (SELECT n.source, t.tk,
        |    CAST(coalesce(c.c, 0) * 1000 AS DOUBLE)
        |      / CAST(n.ns AS DOUBLE) AS rf
        |  FROM ns n CROSS JOIN top t
        |  LEFT JOIN cs c ON c.source = n.source AND c.tk = t.tk),
        |st0 AS (SELECT tk, count(*) AS nsrc,
        |    list_aggregate(list_transform(
        |      list_sort(list({'s': source, 'r': rf})), z -> z.r),
        |      'sum') / count(*) AS mean,
        |    list_aggregate(list_transform(
        |      list_sort(list({'s': source, 'r': rf})), z -> z.r * z.r),
        |      'sum') AS ss
        |  FROM rf GROUP BY tk),
        |st AS (SELECT tk, mean, sqrt(ss / nsrc - mean * mean) AS sd
        |  FROM st0),
        |z AS (SELECT rf.source, rf.tk,
        |    CASE WHEN sd > 0 THEN (rf - mean) / sd ELSE 0.0 END AS z
        |  FROM rf JOIN st USING (tk))
        |SELECT a.source AS source_a, b.source AS source_b,
        |  ROUND(list_aggregate(list_transform(
        |      list_sort(list({'t': a.tk, 'd': abs(a.z - b.z)})),
        |      y -> y.d), 'sum') / count(*) * 10000) / 10000 + 0.0
        |    AS delta
        |FROM z a JOIN z b ON a.tk = b.tk AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    // dedup_minhash_lsh: intentionally no oracle (SURVEY §2.11).
  )
}
