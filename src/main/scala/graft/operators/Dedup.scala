package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text/embedding corpora
  * (SURVEY.md §2 C7 + the LLM-pipeline extension surface): exact,
  * token-shingle Jaccard (inverted-index self-join), MinHash+LSH,
  * SimHash, embedding-cosine, TF-IDF cosine, containment, edit-distance
  * and char-span near-dup; cross-corpus decontamination at doc, fuzzy,
  * semantic and span level (with the scrub rewrite halves); near-dup
  * clustering with a leakage-safe holdout split on the cluster
  * representative.
  *
  * Scale notes (100 TB): every candidate-pair generator here is *blocked* —
  * pairs materialize only inside a bucket (shared shingle / LSH band
  * signature / SimHash band), never as a full cross join. The verify step
  * (exact Jaccard / hamming / Levenshtein) touches candidate pairs only.
  * All hashes are md5-derived (or the Rabin–Karp rolling kernel) and
  * engine-portable, so results are reproducible across engines and runs
  * (no JVM hashCode anywhere).
  */
object Dedup {

  /** 56-bit integer from the md5 hex prefix — the shared deterministic
    * string hash (same value DuckDB computes from its md5).
    */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 14), 16, 10).cast("long")

  /** Deterministic md5-coin row sample for O(N²) AUDIT slices (the exact
    * ground-truth side of blocking-recall evals like eval_dedup_blocking):
    * keeps rows whose salted 56-bit id coin falls below `sample`·2^56.
    * `sample = 1.0` keeps everything — the default, so oracle rows are
    * unchanged at test SFs; at corpus scale the all-pairs audit runs on
    * this subset (an unbiased recall estimator over C(sample·N, 2)
    * pairs) while the blocked paths under audit stay corpus-sized.
    * Engine-portable (the same md5 arithmetic DuckDB computes), so a
    * sampled audit remains oracle-checkable.
    */
  def auditSample(
      df: DataFrame,
      idCol: String,
      sample: Double,
      salt: String = "audit"
  ): DataFrame = {
    require(sample > 0.0 && sample <= 1.0,
      s"auditSample: sample must be in (0, 1], got $sample")
    if (sample >= 1.0) df
    else df.filter(
      md5Long(concat_ws(":", lit(salt), col(idCol).cast("string")))
        < lit((sample * (1L << 56).toDouble).toLong))
  }

  /** Thresholded (banded) Levenshtein: the builtin DP restricted to the
    * ±threshold diagonal band — O(len·threshold) work and an early exit,
    * returning −1 when the true distance exceeds the per-row threshold
    * and the exact distance otherwise. The `functions.levenshtein`
    * wrapper only accepts a literal threshold; near-dup verification
    * needs a PER-PAIR budget (a fraction of the longer doc), so this
    * builds the same catalyst expression with the threshold as a third
    * child column.
    */
  private[graft] def levenshteinBounded(
      a: Column, b: Column, threshold: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.Levenshtein(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b),
        Some(org.apache.spark.sql.GraftColumnBridge.expression(threshold))))

  private val P = 1000000007L

  /** Exact dedup by full-content hash: every doc mapped to the smallest
    * doc_id holding identical text (hash-groupBy, one shuffle on the
    * md5 key).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), md5(col(textCol)).as("h"))
      .groupBy(col("h"))
      .agg(
        min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("group_n")
      )

  /** One exploded (doc_id, sh) row per n-gram POSITION — duplicates kept
    * (a doc repeating a span contributes one row per occurrence). Pure
    * per-row explode, zero shuffle.
    */
  /** `df` spread to the session's parallelism when it reads narrower —
    * the repartition-after-unsplittable-read rule (guide §2.5): a
    * small-SF documents table is one parquet row group, so every
    * content-shaped kernel hung off its scan (n-gram explode, rolling
    * hashes) serializes on one task AND single-threads the first
    * exchange's shuffle write. The shuffled payload is the pre-explode
    * source rows — cheap exactly when this branch fires; a corpus-scale
    * table already scans wide and never pays it.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  private def spanPositions(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame =
    df.select(
        col(idCol).as("doc_id"),
        split(col(textCol), " ").as("toks")
      )
      .select(
        col("doc_id"),
        explode(
          when(
            size(col("toks")) >= n,
            expr(
              s"transform(sequence(0, size(toks)-$n), i -> " +
                (0 until n).map(j => s"toks[i+$j]").mkString("concat_ws(' ', ", ", ", ")") + ")"
            )
          ).otherwise(array())
        ).as("sh")
      )

  /** (doc_id, shingle) pairs: distinct word n-grams per document. */
  def shingles(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3
  ): DataFrame =
    spanPositions(df, idCol, textCol, n).distinct()

  /** Boilerplate span coverage — the token-stream analog of
    * RefinedWeb/CCNet line-level dedup: an n-token span occurring in at
    * least `minDf` DISTINCT documents is boilerplate, and each document
    * reports how much of it is made of such spans. Returns one row per
    * input document: (doc_id, n_spans, n_boiler, boiler_frac) where
    * n_spans counts the doc's span positions, n_boiler those whose span
    * is boilerplate, boiler_frac their ratio (0.0 for docs shorter than
    * n tokens).
    *
    * Scale: two shuffles, both keyed on the span string — the
    * doc-frequency aggregation (distinct (sh, doc) then count per sh) and
    * the positions⋈df join back. No pairwise blow-up anywhere: unlike the
    * pair generators above this is linear in total span positions, which
    * is why production pipelines run line-dedup over corpora where even
    * blocked pair enumeration is too big.
    */
  def boilerplate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      minDf: Int = 2
  ): DataFrame = {
    val pos = spanPositions(df, idCol, textCol, n)
    val dfreq = pos
      .select(col("sh"), col("doc_id")).distinct()
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
    val per = pos
      .join(dfreq, "sh")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_boiler")
      )
    df.select(col(idCol).as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        round(
          when(
            coalesce(col("n_spans"), lit(0L)) > 0,
            col("n_boiler").cast("double") / col("n_spans")
          ).otherwise(lit(0.0)),
          6
        ).as("boiler_frac")
      )
  }

  /** Boilerplate REMOVAL — the rewrite half of [[boilerplate]]: drop every
    * token covered by an occurrence of a boilerplate span (an n-token span
    * found in >= minDf distinct docs) and reassemble the document from the
    * surviving tokens. This is what RefinedWeb/CCNet line-dedup actually
    * does to the corpus: detection ([[boilerplate]]) ranks, removal scrubs.
    * Returns (doc_id, clean_text, n_kept, n_removed).
    *
    * Shape at scale: same two shingle-keyed shuffles as detection (span
    * doc-frequency, then positions ⋈ boilerplate-spans — the join's build
    * side is PRE-FILTERED to df >= minDf, a small fraction of the span
    * vocabulary), plus one join back to the docs. The reconstruction is
    * purely declarative: covered starts collect per doc, and a
    * filter/exists/transform HOF chain keeps tokens whose index lies in no
    * covered window — no UDF, no per-row collect, linear in tokens ×
    * covered-spans-per-doc.
    */
  def removeBoilerplate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      minDf: Int = 2
  ): DataFrame = {
    val toks = df.select(
      col(idCol).as("doc_id"),
      split(col(textCol), " ").as("t")
    )
    val spanExpr =
      s"transform(sequence(0, size(t)-$n), i -> " +
        (0 until n).map(j => s"t[i+$j]").mkString("concat_ws(' ', ", ", ", ")") + ")"
    val pos = toks
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), posexplode(expr(spanExpr)).as(Seq("i", "sh")))
    val boiler = pos
      .select(col("sh"), col("doc_id")).distinct()
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("sh"))
    val starts = pos
      .join(boiler, "sh")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("i"))).as("starts"))
    toks
      .join(starts, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("t"),
        coalesce(col("starts"), expr("array()")).as("starts")
      )
      .select(
        col("doc_id"),
        expr(
          s"filter(sequence(0, size(t)-1), i -> NOT exists(starts, j -> i >= j AND i < j + $n))"
        ).as("kept"),
        col("t")
      )
      .select(
        col("doc_id"),
        expr("array_join(transform(kept, i -> t[i]), ' ')").as("clean_text"),
        size(col("kept")).cast("long").as("n_kept"),
        (size(col("t")) - size(col("kept"))).cast("long").as("n_removed")
      )
  }

  /** Directional n-gram CONTAINMENT pairs — C(sub ⊆ sup) =
    * |shingles(sub) ∩ shingles(sup)| / |shingles(sub)|. Jaccard misses the
    * asymmetric near-dup (a snippet lifted into a much longer document
    * scores J = |sub|/|sup| ≈ 0 but C = 1), which is exactly the
    * quote/excerpt contamination case in training corpora (Broder's
    * resemblance-vs-containment distinction). Same inverted-index blocked
    * self-join as [[jaccardPairs]] — the unordered intersection is counted
    * ONCE, then emitted in both directions with each direction's own
    * denominator. Returns (doc_sub, doc_sup, containment), doc_sub ≠
    * doc_sup, containment ≥ tau.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      tau: Double = 0.9
  ): DataFrame = {
    val sh = shingles(df, idCol, textCol, n)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val common = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    val directed = common
      .select(col("doc_a").as("doc_sub"), col("doc_b").as("doc_sup"), col("c"))
      .unionAll(common
        .select(col("doc_b").as("doc_sub"), col("doc_a").as("doc_sup"), col("c")))
    directed
      .join(sizes.select(col("doc_id").as("doc_sub"), col("nsh")), "doc_sub")
      .withColumn("containment", col("c").cast("double") / col("nsh"))
      .filter(col("containment") >= tau)
      .select(col("doc_sub"), col("doc_sup"), col("containment"))
  }

  /** n-gram Jaccard near-dup pairs via inverted-index self-join: explode
    * shingles, equi-join on the shingle (blocked — only co-occurring pairs
    * appear), count the intersection, Jaccard from set sizes, threshold.
    * Returns (doc_a, doc_b, jaccard), doc_a < doc_b.
    *
    * @param maxShingleDocFreq skew guard for the candidate generator: a
    *   shingle shared by f documents contributes O(f²) candidate pairs, so
    *   one boilerplate phrase in 1% of a 10⁹-doc corpus would explode the
    *   join. Capping drops shingles with doc-frequency above the cap from
    *   the inverted index ONLY — verification still counts intersections
    *   over the full shingle sets, so surviving pairs carry their exact
    *   Jaccard (the cap can only lose candidates, never corrupt scores).
    *   Default unlimited = exact.
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      tau: Double = 0.5,
      maxShingleDocFreq: Int = Int.MaxValue
  ): DataFrame = {
    // not cached: `shingles` ends in distinct() (an exchange), so the
    // self-join sides and the verify pass re-read the SAME shuffle files
    // (ReusedExchange) — the cache added only unreleased storage-memory
    // that a long-lived session never got back. The source is [[spread]]
    // first: the n-gram explode is content-shaped work hanging off a
    // possibly-1-task scan (measured r15: -0.4 s at sf0.1; scoped here
    // and in tfidfWeights because spreading inside shingles() itself
    // regressed the decontaminate cascade 2.5 s -> 7 s)
    val sh = shingles(spread(df.select(col(idCol), col(textCol))), idCol, textCol, n)
    if (maxShingleDocFreq == Int.MaxValue) {
      // uncapped: the inverted-index self-join IS the intersection count —
      // aggregate it directly, one pass over the shingle table
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
      val common = sh.as("a")
        .join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("c"))
      common
        .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), "doc_b")
        .withColumn(
          "jaccard",
          col("c").cast("double") / (col("na") + col("nb") - col("c"))
        )
        .filter(col("jaccard") >= tau)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    } else {
      // capped: generate candidates from the pruned index, verify against
      // the full shingle sets so surviving scores stay exact
      val rare = sh.groupBy(col("sh"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxShingleDocFreq)
        .select(col("sh"))
      val idx = sh.join(rare, "sh")
      val cand = idx.as("a")
        .join(idx.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      verifyJaccard(cand, sh, tau)
    }
  }

  /** [[containmentPairs]] with prefix filtering — the asymmetric analog
    * of [[jaccardPairsPrefix]]'s PPJoin pruning, and the scale fix for
    * the plain containment join's df² fan-out (the r14 second-decade
    * sweep measured the plain postings self-join at exponent ~1.5 with
    * 16 GB of spill on a duplication-heavy decade; this path is
    * output-bit-identical and candidate-bounded).
    *
    * The bound: containment(sub→sup) = |sub∩sup|/|sub| ≥ τ forces
    * overlap ≥ ⌈τ·|sub|⌉, so if sup misses ALL of sub's first
    * |sub| − ⌈τ·|sub|⌉ + 1 tokens under a global rarity order (the
    * PREFIX), the best remaining overlap is ⌈τ·|sub|⌉ − 1 — too small.
    * Candidates therefore come from prefix(sub) ⋈ FULL index(sup)
    * (the sup side cannot be prefix-pruned: containment puts no lower
    * bound on the shared fraction OF SUP), with two further prunes:
    *   - length: overlap ≤ |sup| needs |sup| ≥ τ·|sub|;
    *   - positional: with P prefix matches whose last match sits at
    *     (pamax, pbmax), every further shared token sorts after it in
    *     BOTH sorted docs, so overlap ≤ P + min(nsub−pamax−1,
    *     nsup−pbmax−1) — pairs whose bound can't reach τ·|sub| die
    *     before the verify join.
    * Verification computes the EXACT intersection from the full per-doc
    * arrays (the same dictionary-encoded structure as the Jaccard
    * prefix path) and emits both directions that clear τ — bit-equal to
    * [[containmentPairs]], spec-pinned.
    */
  def containmentPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      tau: Double = 0.9
  ): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    val docsArr = prefixDocs(df, idCol, textCol, n)
    val prefix = docsArr.select(
      col("doc_id"), col("nsh"),
      posexplode(slice(col("toks"), lit(1),
        (col("nsh") - ceil(lit(tau) * col("nsh")) + 1).cast("int"))))
      .toDF("doc_id", "nsh", "pos", "sh")
    val full = docsArr.select(
      col("doc_id"), col("nsh"), posexplode(col("toks")))
      .toDF("doc_id", "nsh", "pos", "sh")
    // directed candidates: sub's prefix against sup's full postings; a
    // pair qualifying in EITHER direction surfaces as that direction's
    // sub, so the unordered union is candidate-complete for both
    val cand = prefix.as("a")
      .join(full.as("b"),
        col("a.sh") === col("b.sh") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          col("b.nsh").cast("double") >= lit(tau) * col("a.nsh") - 1e-9)
      .groupBy(
        col("a.doc_id").as("sub"), col("b.doc_id").as("sup"),
        col("a.nsh").as("nsub"), col("b.nsh").as("nsup"))
      .agg(
        count(lit(1)).as("p"),
        max(col("a.pos")).as("pamax"), max(col("b.pos")).as("pbmax"))
      // 1e-9 slack, same licence as the Jaccard path: admit borderline
      // (verify is exact), never drop a qualifying pair
      .filter(
        (col("p") + least(col("nsub") - col("pamax") - 1,
          col("nsup") - col("pbmax") - 1)).cast("double")
          >= lit(tau) * col("nsub") - 1e-9)
      .select(
        least(col("sub"), col("sup")).as("doc_a"),
        greatest(col("sub"), col("sup")).as("doc_b"))
      .distinct()
    val withSets = cand
      .join(docsArr.select(col("doc_id").as("doc_a"),
        col("toks").as("ta"), col("nsh").as("na")), "doc_a")
      .join(docsArr.select(col("doc_id").as("doc_b"),
        col("toks").as("tb"), col("nsh").as("nb")), "doc_b")
      .withColumn("c", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"), col("c"))
    withSets
      .select(col("doc_a").as("doc_sub"), col("doc_b").as("doc_sup"),
        col("na").as("nsh"), col("c"))
      .unionAll(withSets
        .select(col("doc_b").as("doc_sub"), col("doc_a").as("doc_sup"),
          col("nb").as("nsh"), col("c")))
      .withColumn("containment", col("c").cast("double") / col("nsh"))
      .filter(col("containment") >= tau)
      .select(col("doc_sub"), col("doc_sup"), col("containment"))
  }

  /** [[jaccardPairs]] with PPJoin-style PREFIX FILTERING (Xiao, Wang,
    * Lin & Yu, WWW 2008) — the published candidate-pruning upgrade of
    * the plain inverted-index self-join: order each document's shingles
    * by global rarity (df ASC, shingle ASC — one total order for the
    * whole corpus), index only the first |d| − ⌈τ·|d|⌉ + 1 of them (the
    * PREFIX), and generate candidates from prefix collisions plus the
    * length filter τ·|larger| ≤ |smaller|. Completeness is the paper's
    * theorem: Jaccard ≥ τ forces overlap ≥ ⌈τ/(1+τ)·(|a|+|b|)⌉ >
    * max(|a|,|b|) − prefix span, so any qualifying pair shares a prefix
    * token under a consistent global order. Verification is the same
    * exact-Jaccard pass over the FULL shingle sets — the output is
    * bit-identical to [[jaccardPairs]] (same oracle, spec-pinned), only
    * the candidate volume shrinks: each shingle indexes ~(1−τ) of its
    * postings, and the rarest-first order concentrates prefixes on
    * low-df shingles, collapsing the C(df, 2) fan-out exactly where it
    * is biggest. The candidate-side cost drops from Σ df² to
    * Σ df_prefix² with df_prefix ≪ df for common shingles — the scale
    * lever for corpus-wide exact Jaccard at 100 TB.
    */
  def jaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      tau: Double = 0.5
  ): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    val docsArr = prefixDocs(df, idCol, textCol, n)
    val cand = prefixCandidates(docsArr, tau)
    // fused verify: the candidate aggregation already carries (na, nb);
    // the exact overlap comes from ONE sorted-array intersection against
    // the SAME per-doc arrays the prefix was sliced from — no re-join of
    // exploded shingle rows, no per-pair row fan-out
    cand
      .join(docsArr.select(col("doc_id").as("doc_a"), col("toks").as("ta")),
        "doc_a")
      .join(docsArr.select(col("doc_id").as("doc_b"), col("toks").as("tb")),
        "doc_b")
      .withColumn("c", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Per-doc shingle sets as ONE array each, sorted by the PPJoin global
    * rarity order — the structure that replaces the per-doc `row_number`
    * window (a groupBy does the ordering) AND carries the full set to
    * the fused verify.
    *
    * Shingles are DICTIONARY-ENCODED to longs on the df aggregation
    * (the groupBy the rarity order needs anyway, so encoding costs zero
    * extra shuffles): ids are distinct by construction
    * (monotonically_increasing_id over the distinct-shingle table), so
    * intersection counts stay EXACT — this is not hashing. The global
    * order becomes (df ASC, id ASC); the paper needs only SOME
    * consistent total order, and rarity-first with an arbitrary
    * tie-break keeps the pruning heuristic while every downstream stage
    * (sort, prefix join keys, array intersect) runs on 8-byte longs
    * instead of n-gram strings. The localCheckpoint is REQUIRED for
    * correctness, not just reuse: it freezes the ids so the prefix
    * explode and both verify joins read one consistent dictionary
    * (mono-id re-evaluation per consumer could renumber).
    */
  private def prefixDocs(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // per-doc distinct shingles computed ROW-WISE (array_distinct over the
    // in-row n-gram array) — the (doc_id, sh) rows exploded from this are
    // already doc-distinct, so the full-table distinct() shuffle that
    // shingles() pays disappears; same (split, concat_ws) shingle
    // semantics as spanPositions
    val ngrams = expr(
      s"transform(sequence(0, size(toks)-$n), i -> " +
        (0 until n).map(j => s"toks[i+$j]")
          .mkString("concat_ws(' ', ", ", ", ")") + ")")
    val sh = df
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .select(
        col("doc_id"),
        explode(
          when(size(col("toks")) >= n, array_distinct(ngrams))
            .otherwise(array())).as("sh"))
    val dict = sh.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
      .withColumn("shid", monotonically_increasing_id())
    sh.join(dict, "sh")
      .groupBy(col("doc_id"))
      .agg(
        transform(
          sort_array(collect_list(struct(col("df"), col("shid")))),
          x => x.getField("shid")).as("toks"))
      .withColumn("nsh", size(col("toks")))
      .localCheckpoint()
  }

  /** Candidate pairs from prefix collisions, pruned by BOTH PPJoin
    * filters (Xiao et al. WWW 2008): the length filter
    * τ·|larger| ≤ |smaller| at the join, and the positional/suffix
    * filter after the per-pair aggregation — with P shared prefix
    * tokens whose LAST match sits at 0-based positions (pamax, pbmax),
    * every further shared token sorts after it in BOTH docs (one global
    * order), so overlap ≤ P + min(na−pamax−1, nb−pbmax−1); J ≥ τ needs
    * overlap ≥ τ·(na+nb)/(1+τ), and pairs whose bound can't reach it die
    * BEFORE the verify join. Returns (doc_a, doc_b, na, nb).
    */
  private def prefixCandidates(docsArr: DataFrame, tau: Double): DataFrame = {
    val prefix = docsArr.select(
      col("doc_id"), col("nsh"),
      posexplode(slice(col("toks"), lit(1),
        (col("nsh") - ceil(lit(tau) * col("nsh")) + 1).cast("int"))))
      .toDF("doc_id", "nsh", "pos", "sh")
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          lit(tau) * greatest(col("a.nsh"), col("b.nsh")) <=
            least(col("a.nsh"), col("b.nsh")))
      .groupBy(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.nsh").as("na"), col("b.nsh").as("nb"))
      .agg(
        count(lit(1)).as("p"),
        max(col("a.pos")).as("pamax"), max(col("b.pos")).as("pbmax"))
      // 1e-9 slack: the threshold is exact in rationals; the double form
      // may round a hair high and the bound is integer — admitting a few
      // borderline candidates is harmless (verify is exact), dropping a
      // qualifying pair is not
      .filter(
        (col("p") + least(col("na") - col("pamax") - 1,
          col("nb") - col("pbmax") - 1)).cast("double")
          >= lit(tau) / (1.0 + tau) * (col("na") + col("nb")) - 1e-9)
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"))
  }

  /** Candidate-pair count of the prefix-filtered generator vs the plain
    * inverted index at the same (n, tau) — the measurable pruning ratio
    * (spec gate: prefix ≤ full, equality only on degenerate corpora).
    */
  private[graft] def prefixCandidateCounts(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double): (Long, Long) = {
    val sh = shingles(df, idCol, textCol, n).localCheckpoint()
    val full = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    // measure what jaccardPairsPrefix actually verifies: the prefix
    // collisions AFTER both the length and positional/suffix filters
    val pruned =
      prefixCandidates(prefixDocs(df, idCol, textCol, n), tau).count()
    (full, pruned)
  }

  /** Exact-Jaccard verification of candidate pairs against the full
    * (doc_id, sh) table.
    */
  private def verifyJaccard(
      cand: DataFrame,
      sh: DataFrame,
      tau: Double
  ): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val common = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .filter(col("sh") === col("shb"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), "doc_b")
      .withColumn(
        "jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c"))
      )
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Sorted-neighborhood (SNM) near-dup pairs (Hernández & Stolfo 1995):
    * the classic blocking alternative to inverted-index / LSH families —
    * sort the corpus once by a cheap canonical key, then candidates are
    * only the pairs within `window` positions of each other in sort
    * order; survivors are verified with the exact n-gram Jaccard. The
    * key here is the first 24 chars of the whitespace-collapsed
    * lowercased text — near-dup docs (shared prefixes, boilerplate
    * openings, copies with tail edits) sort adjacent. Returns
    * (doc_a, doc_b, jaccard) with doc_a < doc_b by id, jaccard >= tau.
    *
    * Scale shape: the global sort is [[Packing.distributedRank]] (range
    * partitions + per-partition prefix counts — never a one-partition
    * window), and the windowed self-join is a RANK-BUCKET equi-join, not
    * a window function: bucket = rank div window, the lower-rank side
    * sits in its own bucket, the higher-rank side also visits the
    * previous bucket, and the join filters 0 < rb−ra < window. A
    * qualifying pair spans at most two adjacent buckets, so it meets in
    * EXACTLY one task; fan-out is a fixed 2× row replication however big
    * the corpus — candidate volume is n·(window−1), linear in n, the
    * whole point of SNM at corpus scale. Verification cost is bounded by
    * the same linear candidate count (vs LSH's collision-driven volume).
    */
  def snmPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 8,
      n: Int = 3,
      tau: Double = 0.3
  ): DataFrame = {
    require(window >= 2, s"SNM window must be at least 2, got $window")
    val keyed = df.select(
      col(idCol).as("doc_id"),
      // literal ' +' (not \s+): Java \s and RE2 \s disagree on \x0B, and
      // the key only needs space-run collapsing to sort near-dups adjacent
      substring(
        regexp_replace(lower(col(textCol)), " +", " "), 1, 24).as("k"))
    val ranked = Packing
      .distributedRank(keyed, Seq(col("k"), col("doc_id")), "r")
      .select(col("doc_id"), col("r"))
    val lo = ranked.select(
      col("doc_id").as("id_lo"), col("r").as("ra"),
      expr(s"r div $window").as("bkt"))
    val hi = ranked
      .select(
        col("doc_id").as("id_hi"), col("r").as("rb"),
        explode(expr(s"array(r div $window, r div $window - 1)")).as("bkt"))
      .filter(col("bkt") >= 0)
    val cand = lo
      .join(hi, "bkt")
      .filter(col("rb") > col("ra") && col("rb") < col("ra") + window)
      .select(
        least(col("id_lo"), col("id_hi")).as("doc_a"),
        greatest(col("id_lo"), col("id_hi")).as("doc_b"))
    verifyJaccard(cand, shingles(df, idCol, textCol, n), tau)
  }

  /** MinHash signatures: for permutation i (0-based), the min over the
    * doc's shingle hashes of `((2i+1)·x + 12289·i) mod P`. Returns
    * (doc_id, i, v).
    */
  def minhash(
      sh: DataFrame,
      numPerms: Int
  ): DataFrame = {
    val wide = minhashWide(sh, numPerms)
    val stackArgs =
      (0 until numPerms).map(i => s"$i, v$i").mkString(", ")
    wide.select(
      col("doc_id"),
      expr(s"stack($numPerms, $stackArgs)").as(Seq("i", "v"))
    )
  }

  /** One row per doc with all `numPerms` min-hashes as columns — a single
    * groupBy with N min-aggregates instead of an N-way row explosion (the
    * shingle table is read once; shuffle stays at one row per doc).
    */
  def minhashWide(sh: DataFrame, numPerms: Int): DataFrame = {
    val hashed = sh.withColumn("x", pmod(md5Long(col("sh")), lit(P)))
    val mins = (0 until numPerms).map { i =>
      min(pmod(lit(2L * i + 1) * col("x") + lit(12289L * i), lit(P))).as(s"v$i")
    }
    hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, band, sig) LSH band signatures: rows-per-band consecutive
    * permutations of the doc's MinHash signature, stringified per band.
    */
  private[graft] def bandSignatures(
      sh: DataFrame,
      numPerms: Int,
      bands: Int
  ): DataFrame = {
    val rowsPerBand = numPerms / bands
    val wide = minhashWide(sh, numPerms)
    val bandCols = (0 until bands).map { bd =>
      concat_ws(
        ",",
        (bd * rowsPerBand until (bd + 1) * rowsPerBand)
          .map(i => col(s"v$i").cast("string")): _*
      ).as(s"sig$bd")
    }
    val stackArgs = (0 until bands).map(bd => s"$bd, sig$bd").mkString(", ")
    wide
      .select(col("doc_id") +: bandCols: _*)
      .select(
        col("doc_id"),
        expr(s"stack($bands, $stackArgs)").as(Seq("band", "sig"))
      )
  }

  /** MinHash + LSH near-dup detection: band the signature (rows-per-band
    * consecutive permutations, signature string per band), bucket-join on
    * (band, signature) to get candidates, then verify candidates with the
    * exact shingle Jaccard. Returns (doc_a, doc_b, jaccard), doc_a < doc_b,
    * jaccard >= tau.
    */
  def minhashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numPerms: Int = 16,
      bands: Int = 4,
      tau: Double = 0.5
  ): DataFrame = {
    require(numPerms % bands == 0)
    // distinct'd set for the exact verify only (its three uses below share
    // one exchange via ReusedExchange; caching would add only unreleased
    // storage memory)
    val sh = shingles(df, idCol, textCol, n)
    // signatures read the RAW span stream, not the distinct'd set: min is
    // duplicate-insensitive, so the band branch skips the full-width
    // (doc, shingle) string shuffle entirely — its only exchange is the
    // partial-min aggregation, numPerms values per doc. The distinct
    // exchange below exists solely for the exact verify, where set
    // semantics matter.
    val sigs = bandSignatures(spanPositions(df, idCol, textCol, n), numPerms, bands)
    val cand = sigs.as("a")
      .join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, sh, tau)
  }

  /** Empirical MinHash-LSH band-plan audit — the b×r tuning table a
    * corpus-scale LSH deployment needs BEFORE committing a signature
    * layout. For each band count b in `bandGrid` over ONE shared
    * `numPerms`-permutation signature (r = numPerms/b rows per band),
    * generate the banded candidate pairs exactly as [[minhashLsh]]
    * would, then score the config against the EXACT ground truth
    * ([[jaccardPairs]] at `tau`): measured recall (truth pairs the
    * banding catches) and candidate precision (truth pairs per
    * candidate — the verify-cost denominator a planner trades against
    * recall). This is the measured S-curve, not the analytic
    * 1−(1−s^r)^b: the numbers include every real-corpus effect the
    * formula ignores (shingle-set sizes, skewed min-hash collisions),
    * and every count is integer-exact so the whole table hash-checks.
    *
    * Scale (100 TB): the signature is ONE groupBy over the raw span
    * stream (numPerms min-aggregates, one row per doc; the per-config
    * band slices are projections of that one row, reusing the exchange);
    * each config's candidate join is banded — only same-(band, sig)
    * buckets ever meet; the ground-truth side is the prefix-filtered
    * exact join [[jaccardPairsPrefix]] (bit-identical pair set to
    * [[jaccardPairs]], candidate volume pruned by the PPJoin prefix +
    * length + positional filters), restricted by `sample`
    * through [[auditSample]] like eval_dedup_blocking — candidates are
    * scored against truth ON THE SAMPLED SUBSET (both sides of the
    * recall/precision ratio count only sampled-doc pairs, an unbiased
    * estimator; `sample = 1.0`, the default, audits everything and
    * leaves oracle rows unchanged). Configs with
    * rows-per-band = 1 are rejected: they bucket docs by a SINGLE
    * min-hash value, whose bucket sizes grow with the doc frequency of
    * common shingles — the O(f²) blow-up banding exists to prevent.
    *
    * Returns one row per config: (bands, rows_per_band, n_candidates,
    * n_detected, n_true, recall, precision).
    */
  def lshBandPlan(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numPerms: Int = 16,
      bandGrid: Seq[Int] = Seq(1, 2, 4, 8),
      tau: Double = 0.5,
      sample: Double = 1.0
  ): DataFrame = {
    require(bandGrid.nonEmpty, "lshBandPlan: empty band grid")
    bandGrid.foreach { b =>
      require(b >= 1 && numPerms % b == 0,
        s"lshBandPlan: bands $b must divide numPerms $numPerms")
      require(numPerms / b >= 2,
        s"lshBandPlan: rows-per-band must be >= 2 (bands=$b, perms=$numPerms)")
    }
    val wide = minhashWide(spanPositions(df, idCol, textCol, n), numPerms)
    val sigs = bandGrid.map { b =>
      val r = numPerms / b
      val bandCols = (0 until b).map { bd =>
        concat_ws(
          ",",
          (bd * r until (bd + 1) * r).map(i => col(s"v$i").cast("string")): _*
        ).as(s"sig$bd")
      }
      val stackArgs = (0 until b).map(bd => s"$bd, sig$bd").mkString(", ")
      wide
        .select(col("doc_id") +: bandCols: _*)
        .select(
          lit(b.toLong).as("bands"),
          col("doc_id"),
          expr(s"stack($b, $stackArgs)").as(Seq("band", "sig")))
    }.reduce(_ unionAll _)
    val candAll = sigs.as("a")
      .join(
        sigs.as("b"),
        col("a.bands") === col("b.bands") && col("a.band") === col("b.band")
          && col("a.sig") === col("b.sig")
          && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.bands").as("bands"),
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"))
      .distinct()
    // truth AND the scored candidate pairs both restrict to the audit
    // sample: recall/precision stay ratios over the SAME pair universe
    // (sample = 1.0 short-circuits — identical plan, oracle unchanged)
    val audited = auditSample(df, idCol, sample, "bandplan")
    val cand =
      if (sample >= 1.0) candAll
      else {
        // keep the original idCol type: casting to long would make the
        // semi-joins below cast-compare against doc_a/doc_b (which carry
        // the uncast id from sigs) and, for non-numeric string ids, null
        // out and silently drop every candidate
        val keep = audited.select(col(idCol).as("k"))
          .localCheckpoint()
        candAll
          .join(keep.select(col("k").as("doc_a")), Seq("doc_a"), "left_semi")
          .join(keep.select(col("k").as("doc_b")), Seq("doc_b"), "left_semi")
      }
    // truth feeds TWO consumers (the denominator count + the detection
    // join) — materialized once so the jaccard verify subtree doesn't run
    // twice; it is tiny (pairs clearing tau). cand deliberately is NOT
    // checkpointed: its two consumers re-read the band self-join's
    // shuffle files (ReusedExchange), and measuring showed eagerly
    // materializing the wide candidate table costs ~5x what the re-read
    // saves. The truth side rides [[jaccardPairsPrefix]] (bit-identical
    // pair set, spec-pinned) instead of the plain inverted-index
    // self-join: the r14 second-decade sweep measured the uncapped
    // jaccard truth at 136.7 s quiet on derived sf1 (exponent 1.16 vs
    // 0.69 for the prefix path) — at 100 TB an unpruned exact-truth
    // audit inside a band-plan query is the suite's scale-killer.
    val truth = jaccardPairsPrefix(audited, idCol, textCol, n, tau)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val perCfg = cand.groupBy(col("bands")).agg(count(lit(1)).as("n_candidates"))
    val det = cand
      .join(truth, Seq("doc_a", "doc_b"))
      .groupBy(col("bands"))
      .agg(count(lit(1)).as("n_detected"))
    val spark = df.sparkSession
    import spark.implicits._
    val grid = bandGrid
      .map(b => (b.toLong, (numPerms / b).toLong))
      .toDF("bands", "rows_per_band")
    grid
      .join(perCfg, Seq("bands"), "left")
      .join(det, Seq("bands"), "left")
      .crossJoin(nTrue)
      .select(
        col("bands"),
        col("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_detected"), lit(0L)).as("n_detected"),
        col("n_true"),
        round(
          when(col("n_true") > 0,
            coalesce(col("n_detected"), lit(0L)).cast("double") / col("n_true"))
            .otherwise(lit(0.0)), 6).as("recall"),
        round(
          when(coalesce(col("n_candidates"), lit(0L)) > 0,
            coalesce(col("n_detected"), lit(0L)).cast("double")
              / coalesce(col("n_candidates"), lit(0L)))
            .otherwise(lit(0.0)), 6).as("precision"))
  }

  /** The dedup CASCADE with per-stage kill attribution — production
    * dedup's actual shape (cheapest blocking first, each stage only on
    * the survivors of the last): exact content hash → MinHash-LSH
    * verified Jaccard clusters (τ) → SimHash hamming ≤ maxHamming
    * clusters. Returns one row per input doc:
    * (doc_id, killed_by ∈ {exact, minhash, simhash, kept},
    * canonical_id) where canonical_id is the doc it lost to AT ITS KILL
    * STAGE (attribution is stage-local by design: a later stage may
    * re-cluster that canonical; every canonical is provably a survivor
    * of all stages up to and including its own). Cluster reps are the
    * component min id, so canonical_id < doc_id for every killed doc.
    *
    * Scale: each stage is its standalone operator (hash-groupBy /
    * banded LSH / 16-bit-band SimHash), components ride the
    * size-adaptive [[connectedComponents]]; survivor filtering is one
    * anti-join per stage.
    */
  def cascade(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numPerms: Int = 16,
      bands: Int = 4,
      tau: Double = 0.5,
      maxHamming: Int = 3
  ): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // stage boundaries materialize ONCE (the pipeline_full discipline):
    // every kill list / survivor set feeds 2+ consumers, and each
    // re-evaluation would re-run its whole stage
    val m1 = docs
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(exact(docs, "doc_id", "text"), "h")
      .select(col("doc_id"), col("canonical_id").as("c1"))
      .localCheckpoint()
    val s1kill = m1.filter(col("doc_id") =!= col("c1"))
    val d1 = docs.join(
      m1.filter(col("doc_id") === col("c1")).select(col("doc_id")), "doc_id")
      .localCheckpoint()
    val pairs2 = minhashLsh(d1, "doc_id", "text", n, numPerms, bands, tau)
    val comp2 = connectedComponents(pairs2, "doc_a", "doc_b").localCheckpoint()
    val s2kill = comp2.filter(col("doc_id") =!= col("rep_id"))
    val d2 = d1.join(s2kill.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val pairs3 = simhashPairs(d2, "doc_id", "text", maxHamming)
    val comp3 = connectedComponents(pairs3, "doc_a", "doc_b").localCheckpoint()
    val s3kill = comp3.filter(col("doc_id") =!= col("rep_id"))
    docs
      .select(col("doc_id"))
      .join(s1kill.select(col("doc_id"), col("c1")), Seq("doc_id"), "left")
      .join(s2kill.select(col("doc_id"), col("rep_id").as("c2")),
        Seq("doc_id"), "left")
      .join(s3kill.select(col("doc_id"), col("rep_id").as("c3")),
        Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("c1").isNotNull, lit("exact"))
          .when(col("c2").isNotNull, lit("minhash"))
          .when(col("c3").isNotNull, lit("simhash"))
          .otherwise(lit("kept")).as("killed_by"),
        coalesce(col("c1"), col("c2"), col("c3"), col("doc_id"))
          .as("canonical_id"))
  }

  /** The decontamination LADDER with per-rung attribution — the
    * production sequencing (cheap rungs first, each only on the last
    * rung's survivors; drop only what must drop, cut only what must be
    * cut): exact n-gram overlap vs the eval corpus → fuzzy MinHash-LSH
    * near-dup on the survivors → span-level ExactSubstr scrub on what
    * remains. One row per training doc: rung ∈ {exact, fuzzy dropped;
    * scrubbed kept-with-cuts; clean}, the rung's own signal count, and
    * ship_md5 = md5 of the text the pipeline actually ships (scrubbed
    * or original; NULL for dropped docs) — the ladder's end-state
    * digest. Note the rung subsumption property: at the default
    * parameters (exact n=5, fuzzy n=3/τ=0.5) a verbatim leak is always
    * caught by the exact rung first, so fuzzy fires only on PARAPHRASED
    * leaks (reworded text with overlapping rare shingles) — absent from
    * derived corpora, exercised standalone by decontaminateFuzzy's row.
    */
  def decontaminateCascade(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      nExact: Int = 5,
      nFuzzy: Int = 3,
      numPerms: Int = 16,
      bands: Int = 4,
      tau: Double = 0.5,
      w: Int = 20
  ): DataFrame = {
    val tr = train.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val ev = eval.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // stage boundaries materialize ONCE (the pipeline_full discipline):
    // each kill list and survivor set feeds 2+ consumers — without the
    // checkpoints every consumer re-runs the whole upstream rung chain
    val exKill = decontaminate(tr, ev, "doc_id", "text", nExact)
      .filter(col("contaminated"))
      .select(col("doc_id"), col("n_hits").as("s1"))
      .localCheckpoint()
    val d1 = tr.join(exKill.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val fzKill = decontaminateFuzzy(d1, ev, "doc_id", "text",
      nFuzzy, numPerms, bands, tau)
      .filter(col("contaminated"))
      .select(col("doc_id"), col("n_matches").as("s2"))
      .localCheckpoint()
    val d2 = d1.join(fzKill.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val spans = contaminatedSpans(d2, ev, "doc_id", "text", w)
    val sc = scrubSpans(d2, "doc_id", "text", spans)
      .select(col("doc_id"), col("n_spans"), md5(col("clean_text")).as("cmd5"))
    tr.select(col("doc_id"))
      .join(exKill, Seq("doc_id"), "left")
      .join(fzKill, Seq("doc_id"), "left")
      .join(sc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("s1").isNotNull, lit("exact"))
          .when(col("s2").isNotNull, lit("fuzzy"))
          .when(col("n_spans") > 0, lit("scrubbed"))
          .otherwise(lit("clean")).as("rung"),
        coalesce(col("s1"), col("s2"),
          when(col("n_spans") > 0, col("n_spans")), lit(0L)).as("n_signals"),
        when(col("s1").isNotNull || col("s2").isNotNull,
          lit(null).cast("string"))
          .otherwise(col("cmd5")).as("ship_md5"))
  }

  /** 64-bit SimHash over token hashes: bit b of the signature is set when
    * the sum over tokens of ±1 (sign of bit b of the token hash = first
    * 8 md5 bytes) is >= 0. Computed by the one-pass
    * [[graft.functions.SimHash64Expr]] kernel — the signature is a
    * per-doc scalar, so this is a MAP-ONLY projection: no token
    * row-explosion, no 64-column aggregation exchange, nothing shuffled.
    * Returns (doc_id, simhash).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      graft.functions.SimHash64Expr.simhash64(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs: candidates share one of four 16-bit bands of
    * the 64-bit signature (exact-match blocking), verified by hamming
    * distance <= maxHamming. By pigeonhole, four bands make the candidate
    * set COMPLETE w.r.t. the signature for any maxHamming <= 3: at most 3
    * differing bits cannot touch all 4 bands, so some band matches
    * exactly. (The previous 32-bit/2-band spelling was only complete at
    * hamming <= 1 while defaulting maxHamming = 3 — pairs with 2–3
    * differing bits split across both halves were silently missed.)
    * Doubling the signature width also halves the chance that two
    * UNRELATED docs land within hamming 3 of each other, so verified
    * false-positive pairs shrink as the corpus grows.
    * Returns (doc_a, doc_b, hamming).
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3
  ): DataFrame = {
    require(maxHamming <= 3,
      s"4x16-bit banding is only candidate-complete for maxHamming <= 3, got $maxHamming")
    // simhash is now map-only (no exchange of its own), so without a
    // pinned exchange each of the 8 join sides would recompute md5 over
    // the whole corpus; repartition materializes the (doc_id, simhash)
    // rows ONCE — all 8 sides hit the same shuffle files (ReusedExchange,
    // n × 16-byte rows) and the band columns are cheap post-shuffle bit
    // ops that never travel
    val sig = simhash(df, idCol, textCol)
      .repartition(col("doc_id"))
      .withColumn("b0", col("simhash").bitwiseAND(65535))
      .withColumn("b1", shiftright(col("simhash"), 16).bitwiseAND(65535))
      .withColumn("b2", shiftright(col("simhash"), 32).bitwiseAND(65535))
      .withColumn("b3", shiftright(col("simhash"), 48).bitwiseAND(65535))
    def band(c: String) = sig.as("a")
      .join(sig.as("b"),
        col(s"a.$c") === col(s"b.$c") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb")
      )
    Seq("b0", "b1", "b2", "b3").map(band).reduce(_ union _).distinct()
      .withColumn(
        "hamming",
        bit_count(col("sa").bitwiseXOR(col("sb")))
      )
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
  }

  /** One replicated row of the triangle block-pair join: the vector with
    * `id` participates in block-pair (pi, pj) on the left (block pi) or
    * right (block pj) side.
    */
  private[graft] final case class BlockSide(
      pi: Int, pj: Int, lft: Boolean, id: Long, v: Array[Double])

  /** EXACT embedding-cosine near-dup pairs above `tau`, doc_a < doc_b.
    *
    * Shape: a triangle block-pair join, not a nested-loop self-join. Each
    * vector lands in one of `numBlocks` md5-hashed blocks; every unordered
    * block pair (i <= j) becomes one task holding exactly two blocks, and
    * the tight double-array kernel enumerates its pairs. Properties at
    * scale: shuffle volume is `numBlocks · n` rows (each row replicated
    * once per partner block), per-task memory is bounded by two blocks
    * (pick `numBlocks >= 2·n·d·8B / executor_mem`), tasks are
    * hash-balanced, and the O(n²/2) distance compute — which is inherent
    * to EXACT all-pairs at any threshold — spreads evenly over
    * `numBlocks·(numBlocks+1)/2` tasks with no broadcast of the corpus and
    * no single nested-loop task. For corpus-scale near-dup where
    * approximate recall is acceptable, use [[embeddingPairsLsh]] instead:
    * sub-quadratic candidate generation, same verify math.
    *
    * Float parity: dot products accumulate left-to-right in array order
    * (same as [[graft.functions.DotExpr]] and DuckDB's
    * `list_sum(list_transform(...))`), so results are bit-identical to the
    * naive join spelling.
    */
  def embeddingPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      numBlocks: Int = 16
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val idType = df.schema(idCol).dataType
    val sides = df
      .select(
        col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"),
        pmod(md5Long(col(idCol).cast("string")), lit(numBlocks)).cast("int")
          .as("blk")
      )
      .select(
        explode(expr(
          s"transform(sequence(0, ${numBlocks - 1}), k -> " +
            "struct(least(blk, k) AS pi, greatest(blk, k) AS pj, " +
            "blk <= k AS lft))"
        )).as("p"),
        col("id"), col("v")
      )
      .select(col("p.pi"), col("p.pj"), col("p.lft"), col("id"), col("v"))
      .as[BlockSide]
    val pairs = sides
      .groupByKey(r => (r.pi, r.pj))
      .flatMapGroups { (key: (Int, Int), it: Iterator[BlockSide]) =>
        val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
        val right = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
        it.foreach { r =>
          var s = 0.0
          var i = 0
          while (i < r.v.length) { s += r.v(i) * r.v(i); i += 1 }
          val e = (r.id, r.v, math.sqrt(s))
          if (r.lft) left += e else right += e
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        def emit(a: (Long, Array[Double], Double), b: (Long, Array[Double], Double)): Unit = {
          val n = math.min(a._2.length, b._2.length)
          var s = 0.0
          var i = 0
          while (i < n) { s += a._2(i) * b._2(i); i += 1 }
          val c = s / (a._3 * b._3)
          if (c >= tau)
            out += (if (a._1 < b._1) (a._1, b._1, c) else (b._1, a._1, c))
        }
        if (key._1 == key._2) {
          // diagonal task: all unordered pairs within one block
          var i = 0
          while (i < left.length) {
            var j = i + 1
            while (j < left.length) { emit(left(i), left(j)); j += 1 }
            i += 1
          }
        } else {
          var i = 0
          while (i < left.length) {
            var j = 0
            while (j < right.length) { emit(left(i), right(j)); j += 1 }
            i += 1
          }
        }
        out.iterator
      }
    pairs
      .toDF("doc_a", "doc_b", "cosine")
      .select(
        col("doc_a").cast(idType).as("doc_a"),
        col("doc_b").cast(idType).as("doc_b"),
        col("cosine")
      )
  }

  /** Deterministic random-hyperplane component: uniform in [-0.5, 0.5),
    * derived from md5 of "plane_dim" exactly as a SQL engine would compute
    * `(('0x'||substr(md5(k||'_'||d),1,14))::BIGINT % 1000003) / 1000003.0
    * - 0.5` — so an oracle can rebuild the identical planes.
    */
  private[graft] def hyperplane(k: Int, d: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${k}_${d}".getBytes("UTF-8"))
    val hex = digest.map(b => f"$b%02x").mkString.substring(0, 14)
    (java.lang.Long.parseLong(hex, 16) % 1000003L) / 1000003.0 - 0.5
  }

  /** APPROXIMATE embedding-cosine near-dup pairs above `tau` via
    * sign-random-projection (hyperplane) LSH: `numPlanes` deterministic
    * md5-seeded hyperplanes give each vector a bit signature; the
    * signature splits into `bands` bands; candidates are pairs sharing any
    * band (equi-join on the band signature — blocked, never all-pairs);
    * candidates are verified with the exact codegen cosine. doc_a < doc_b.
    *
    * Recall per qualifying pair is `1 - (1 - p^r)^bands` with
    * `p = 1 - arccos(cos)/π` and `r = numPlanes/bands` — for true
    * near-dups (cosine >= 0.9, p = 0.86) the defaults give ~0.96 and more
    * bands push it arbitrarily close to 1; near the decision boundary
    * recall drops, which is the standard LSH trade. This is the 100-TB
    * path: candidate volume scales with bucket collisions, not n².
    */
  /** SRP band-collision candidate pairs (doc_a < doc_b, distinct) — the
    * sub-quadratic blocking stage shared by [[embeddingPairsLsh]] and
    * the DBSCAN corpus-scale path ([[Dbscan.epsNeighborPairsLsh]]).
    */
  /** Per-vector SRP band signatures: (id, band, sig) where sig is the
    * band's bit string from the md5-seeded hyperplane signs — the shared
    * table behind exact-band and multi-probe candidate generation.
    */
  private[graft] def srpBandSigs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numPlanes: Int,
      bands: Int,
      dim: Int,
      carryVec: Boolean = false // keep `v` in the output (streaming
  // consumers can't re-join their own unbounded side to recover it)
  ): DataFrame = {
    require(numPlanes % bands == 0, "bands must divide numPlanes")
    require(dim > 0 || !df.isStreaming,
      "streaming input needs an explicit dim (no head() on a stream)")
    import graft.functions.VectorExpressions._
    val rowsPerBand = numPlanes / bands
    val d =
      if (dim > 0) dim
      else df.select(size(col(vecCol))).head.getInt(0)
    val planes =
      Array.tabulate(numPlanes)(k => Array.tabulate(d)(j => hyperplane(k, j)))
    val e = df
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val bitCols = (0 until numPlanes).map { k =>
      when(dotFast(col("v"), typedLit(planes(k).toSeq)) >= 0, lit("1"))
        .otherwise(lit("0"))
    }
    val sigCols = (0 until bands).map { b =>
      concat(bitCols.slice(b * rowsPerBand, (b + 1) * rowsPerBand): _*)
        .as(s"sig$b")
    }
    val stackArgs = (0 until bands).map(b => s"$b, sig$b").mkString(", ")
    val carried = if (carryVec) Seq(col("id"), col("v")) else Seq(col("id"))
    e.select(carried ++ sigCols: _*)
      .select(
        carried :+ expr(s"stack($bands, $stackArgs)").as(Seq("band", "sig")): _*
      )
  }

  /** The ×(r+1) probe explode shared by the multi-probe candidate join
    * and its streaming admission twin: each (band, sig) row emits its
    * exact signature plus every 1-bit flip as `psig`.
    */
  private[graft] def withSigProbes(sigs: DataFrame, rowsPerBand: Int): DataFrame = {
    val r = rowsPerBand
    val flips = expr(
      s"transform(sequence(1, $r), p -> concat(substring(sig, 1, p-1), " +
        "case when substring(sig, p, 1) = '1' then '0' else '1' end, " +
        s"substring(sig, p+1, $r - p)))")
    sigs.withColumn("psig", explode(concat(array(col("sig")), flips)))
  }

  private[graft] def srpCandidates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numPlanes: Int,
      bands: Int,
      dim: Int
  ): DataFrame = {
    val sigs = srpBandSigs(df, idCol, vecCol, numPlanes, bands, dim)
    sigs.as("a")
      .join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
  }

  /** MULTI-PROBE SRP candidates (Lv et al. 2007 applied to hyperplane
    * LSH): a pair qualifies when SOME band's signatures are within
    * Hamming distance 1 — probing each band's 1-bit neighborhood
    * recovers most of the recall extra hash tables would buy WITHOUT
    * replicating the index. One side of the self-join explodes to its
    * exact signature plus the rowsPerBand flipped probes (a bounded
    * ×(r+1) explode of the SIGNATURE table, never the corpus); the
    * other side stays exact, so every qualifying pair meets at least
    * once and `distinct` dedupes. Candidate volume stays bucket-
    * collision-bounded: (r+1)× the exact-band join's probe rows.
    */
  private[graft] def srpCandidatesMultiprobe(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numPlanes: Int,
      bands: Int,
      dim: Int
  ): DataFrame = {
    val sigs = srpBandSigs(df, idCol, vecCol, numPlanes, bands, dim)
      .localCheckpoint() // both join sides + the probe explode
    val probes = withSigProbes(sigs, numPlanes / bands)
      .select(col("id"), col("band"), col("psig"))
    probes.as("a")
      .join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.psig") === col("b.sig")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
  }

  /** [[embeddingPairsLsh]] with multi-probe candidates: Hamming-≤1 band
    * matches feed the same exact-cosine verify — higher recall at the
    * same table count, the standard operating point when index
    * replication (more bands/tables) is the scarcer resource.
    */
  def embeddingPairsLshMultiprobe(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      numPlanes: Int = 16,
      bands: Int = 4,
      dim: Int = -1
  ): DataFrame = {
    import graft.functions.VectorExpressions._
    val e = df
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dotFast(col("v"), col("v"))))
    srpCandidatesMultiprobe(df, idCol, vecCol, numPlanes, bands, dim)
      .join(e.select(col("id").as("doc_a"), col("v").as("va"), col("nrm").as("na")), "doc_a")
      .join(e.select(col("id").as("doc_b"), col("v").as("vb"), col("nrm").as("nb")), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        (dotFast(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine")
      )
      .filter(col("cosine") >= tau)
  }

  def embeddingPairsLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      numPlanes: Int = 16,
      bands: Int = 4,
      dim: Int = -1
  ): DataFrame = {
    import graft.functions.VectorExpressions._
    // not cached: the three consumers (signatures + the two verify joins)
    // re-scan the source; a norm recompute per scan is cheaper at scale
    // than pinning the corpus in executor storage with no release point
    val e = df
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dotFast(col("v"), col("v"))))
    val cand = srpCandidates(df, idCol, vecCol, numPlanes, bands, dim)
    cand
      .join(e.select(col("id").as("doc_a"), col("v").as("va"), col("nrm").as("na")), "doc_a")
      .join(e.select(col("id").as("doc_b"), col("v").as("vb"), col("nrm").as("nb")), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        (dotFast(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine")
      )
      .filter(col("cosine") >= tau)
  }

  /** Connected components over an undirected near-dup pair table — the
    * cluster/representative stage a dedup pipeline runs AFTER pair
    * generation: every id that appears in a pair maps to the minimum id
    * reachable through the pair graph (its canonical representative, the
    * standard keep-the-smallest-id policy).
    *
    * Min-label propagation with pointer jumping to fixpoint: labels start
    * as self; each round every node takes the minimum label in its closed
    * neighborhood, then follows its label's own label one hop
    * (lbl ← lbl(lbl), the pointer-jumping step that makes label distance
    * halve per round — O(log n) rounds even on adversarial chains, not
    * O(diameter)). One round = two |V|+|E|-bounded joins + one
    * min-aggregate, fully distributed — the driver sees only the
    * changed-row counter, and `localCheckpoint` truncates lineage per
    * round so long chains cannot blow up planning.
    */
  /** Below this many pairs the component computation runs as driver-local
    * union-find (one bounded collect, zero iterative jobs) — the same
    * size-adaptive reasoning as broadcast-join thresholds. A near-dup
    * pair set is blocking+verification survivors, i.e. maintenance-sized
    * in practice; the distributed min-label loop below remains the path
    * for when it isn't.
    */
  private val LocalCcMaxEdges = 1000000

  /** Total completed [[connectedComponentsDistributed]] invocations in
    * this JVM — the end-to-end proof hook that a given run actually took
    * the distributed double-pointer-jumping loop rather than the local
    * union-find (specs assert on the delta; the oracle query
    * dedup_clusters_distributed pins `localMaxEdges = 0` so its green
    * CORRECTNESS row is produced by this path).
    */
  private[graft] val ccDistributedRuns =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** `localMaxEdges` overrides the local/distributed cutover (default
    * [[LocalCcMaxEdges]]); 0 forces the distributed loop regardless of
    * graph size.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      localMaxEdges: Int = LocalCcMaxEdges
  ): DataFrame = {
    val spark = pairs.sparkSession
    val e0 = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    // bounded probe: collect at most threshold+1 rows — small graphs take
    // the local path, anything bigger falls through to the distributed
    // loop having held only ~16 MB on the driver
    val probe = e0.limit(localMaxEdges + 1).collect()
    if (probe.length <= localMaxEdges) {
      import spark.implicits._
      return unionFind(probe.iterator.map(row => (row.getLong(0), row.getLong(1))))
        .toSeq.toDF("doc_id", "rep_id")
    }
    connectedComponentsDistributed(e0)
  }

  /** Driver-local connected components of the pairs: (id, root) for
    * every endpoint, ascending by id, the root being the component's
    * minimum id — union-find with min-id roots and path compression.
    */
  private[operators] def unionFind(pairs: Iterator[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) {
        val n = parent.getOrElse(c, c); parent(c) = r; c = n
      }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // snapshot the keys BEFORE resolving: find() path-compresses (writes
    // into the map), and mutating a mutable.HashMap under a live
    // keysIterator drops entries
    parent.keys.toArray.sorted.map(id => (id, find(id)))
  }

  /** Edit-distance near-dup pairs — the classic character-level verify
    * (one typo/OCR-noise edit ≠ a new document) on top of the simhash
    * band blocking: candidates come from [[simhashPairs]], whose four
    * 16-bit bands of the 64-bit signature are candidate-COMPLETE for any
    * hamming radius ≤ 3 by pigeonhole — so w.r.t. the simhash-hamming
    * filter, no qualifying pair is ever missed at the default
    * maxHamming = 1 (or at 2–3). Note the completeness claim is scoped to
    * the hamming filter only: w.r.t. the pure edit-distance predicate the
    * operator is a recall HEURISTIC — a pair within `maxEditFrac` whose
    * signatures differ in more than `maxHamming` bits is never examined
    * (blocking-dependent recall, the standard near-dup trade). Only band
    * survivors pay the Levenshtein DP, and that DP is BANDED: the engine's
    * codegen `levenshtein` builtin takes a per-row threshold — here the
    * pair's own budget floor(maxEditFrac·maxLen) — and walks only the
    * ±threshold diagonal band, O(len·threshold) instead of O(len²), with
    * an early exit (−1) the moment every band cell exceeds the budget.
    * Since the filter keeps exactly the pairs with ed ≤ budget, and the
    * thresholded DP returns the true distance for those pairs (−1 only
    * above budget, which the unbounded spelling would filter out anyway),
    * the result set is bit-identical to the unbounded DP. A pair
    * qualifies when its edit distance is at most `maxEditFrac` of the
    * longer doc. Returns (doc_a, doc_b, edit_distance).
    *
    * Scale: the banded DP runs ONLY on blocked candidate pairs (band
    * survivors — maintenance-sized), never corpus×corpus; far pairs
    * (most band false-positives) bail out of the band early instead of
    * paying the full quadratic table; the text join against the
    * candidate list is the small-side join.
    */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 1,
      maxEditFrac: Double = 0.25
  ): DataFrame = {
    val cand = simhashPairs(df, idCol, textCol, maxHamming)
      .select(col("doc_a"), col("doc_b"))
    val txt = df.select(col(idCol).as("doc_id"), col(textCol).as("txt"))
    cand
      .join(txt.select(col("doc_id").as("doc_a"), col("txt").as("ta")), "doc_a")
      .join(txt.select(col("doc_id").as("doc_b"), col("txt").as("tb")), "doc_b")
      // length-gap prefilter: ed >= |len_a - len_b|, so a gap beyond the
      // budget can never qualify — prunes before the DP without changing
      // the result set
      .filter(
        abs(length(col("ta")) - length(col("tb"))) <=
          lit(maxEditFrac) * greatest(length(col("ta")), length(col("tb"))))
      // per-pair budget: ed <= frac·maxLen  <=>  ed <= floor(frac·maxLen)
      // (ed is an integer), so the floor IS the banded-DP threshold
      .withColumn(
        "budget",
        floor(lit(maxEditFrac) *
          greatest(length(col("ta")), length(col("tb")))).cast("int"))
      .withColumn(
        "ed", levenshteinBounded(col("ta"), col("tb"), col("budget")))
      // -1 = the banded DP proved ed > budget; >= 0 is the exact distance
      .filter(col("ed") >= 0 && col("ed") <= col("budget"))
      .select(col("doc_a"), col("doc_b"), col("ed").cast("long").as("edit_distance"))
  }

  /** Leakage-safe holdout split: assign every doc to train/val by hashing
    * its near-dup CLUSTER representative, not the doc itself — so a
    * cluster of near-duplicates lands wholly on one side and a val doc
    * can never have a train-side near-twin (the contamination a
    * doc-level random split silently creates). `comp` is a
    * [[connectedComponents]] table (doc_id, rep_id); docs absent from it
    * are singletons and split on their own id. The coin is the engine's
    * standard md5-uniform over (rep, salt) — deterministic,
    * partition-independent, engine-portable, rerunnable.
    *
    * Returns (doc_id, rep_id, split) with split ∈ {'train','val'};
    * P(train) = trainPct/100 per CLUSTER (so doc-level fractions track
    * cluster mass, which is the correct unit — leakage, not doc count,
    * is what the split must control).
    *
    * Scale: one left join against the (pair-survivor-sized) component
    * table and a per-row hash — no shuffle beyond the join, and the join
    * side is the small one.
    */
  def leakSafeSplit(
      docs: DataFrame,
      idCol: String,
      comp: DataFrame, // (doc_id, rep_id) from connectedComponents
      trainPct: Int = 90,
      salt: String = "holdout"
  ): DataFrame = {
    require(trainPct >= 0 && trainPct <= 100, s"trainPct=$trainPct")
    docs
      .select(col(idCol).cast("long").as("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("rep_id"), col("doc_id")).as("rep_id")
      )
      .select(
        col("doc_id"), col("rep_id"),
        when(
          pmod(
            md5Long(concat(col("rep_id").cast("string"), lit(s":$salt"))),
            lit(100)
          ) < trainPct,
          lit("train")
        ).otherwise(lit("val")).as("split")
      )
  }

  /** Leakage-safe k-FOLD assignment — [[leakSafeSplit]] generalized to
    * cross-validation: fold = md5(rep:salt) mod k on the near-dup
    * CLUSTER representative, so a family of near-duplicates lands
    * wholly in one fold and no fold's held-out slice has a near-twin
    * in any training fold. Same one-small-side-join shape as the
    * split.
    */
  def leakSafeFolds(
      docs: DataFrame,
      idCol: String,
      comp: DataFrame, // (doc_id, rep_id) from connectedComponents
      k: Int,
      salt: String = "kfold"
  ): DataFrame = {
    require(k >= 2, s"k-fold needs k >= 2, got $k")
    docs
      .select(col(idCol).cast("long").as("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("rep_id"), col("doc_id")).as("rep_id")
      )
      .select(
        col("doc_id"), col("rep_id"),
        pmod(
          md5Long(concat(col("rep_id").cast("string"), lit(s":$salt"))),
          lit(k)).cast("long").as("fold")
      )
  }

  /** The distributed min-label/pointer-jumping loop — the over-threshold
    * path of [[connectedComponents]], directly testable.
    */
  private[graft] def connectedComponentsDistributed(
      e0: DataFrame // (src long, dst long)
  ): DataFrame = {
    // materialize the input ONCE: the symmetrization references e0 in
    // both union branches, and e0's upstream is typically an expensive
    // pair generator (a banded similarity join) that would re-execute
    // per branch — the rankMetrics discipline, half the size of the
    // already-checkpointed symmetric edge table
    val base = e0.localCheckpoint()
    val edges = base
      .union(base.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = edges
      .select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      // carry each node's previous label through the min-hook so the
      // convergence test is a filter over this round's (already
      // materialized) output, not a join that re-executes the prior round
      val prop = edges
        .join(labels, edges("dst") === labels("id"))
        .select(
          edges("src").as("id"), col("lbl"), lit(Long.MaxValue).as("old"))
      // the hooked labels feed all three sides of the jump joins below —
      // NOT materialized separately: the three subtrees share one shuffle
      // via ReusedExchange inside the single checkpoint job, so a round
      // costs two jobs (checkpoint + count), not three
      val hooked = labels
        .select(col("id"), col("lbl"), col("lbl").as("old"))
        .unionByName(prop)
        .groupBy(col("id"))
        .agg(min(col("lbl")).as("lbl"), min(col("old")).as("old"))
      // double pointer jump: lbl <- lbl(lbl(lbl)). Every label value is
      // itself a node id of the same component (labels start as self and
      // only node labels propagate), so both self-joins are total. Two
      // jumps per round quarter the label distance instead of halving it
      // — on a giant component that halves the round count, and a round's
      // fixed cost (scheduling + one checkpoint) dominates the extra tiny
      // join. Materialized eagerly: the changed-count filter and the next
      // round's two join consumers all read these blocks instead of
      // replaying the joins.
      val next = hooked
        .join(
          hooked.select(col("id").as("rid"), col("lbl").as("rlbl")),
          col("lbl") === col("rid"))
        .select(col("id"), col("rlbl").as("lbl"), col("old"))
        .join(
          hooked.select(col("id").as("rid2"), col("lbl").as("rlbl2")),
          col("lbl") === col("rid2"))
        .select(col("id"), col("rlbl2").as("lbl"), col("old"))
        .localCheckpoint()
      // convergence needs EXISTENCE of a changed row, not the count —
      // isEmpty stops at the first match over the materialized blocks
      changed = if (next.filter(col("lbl") =!= col("old")).isEmpty) 0L else 1L
      labels = next.select(col("id"), col("lbl"))
    }
    ccDistributedRuns.incrementAndGet()
    labels.select(col("id").as("doc_id"), col("lbl").as("rep_id"))
  }

  /** Test-set decontamination: for every training document, count the
    * DISTINCT word n-grams it shares with an evaluation corpus — the
    * standard pre-training hygiene step (a training doc that contains a
    * benchmark's n-grams leaks the benchmark).
    *
    * Shape at scale: both sides reduce to (doc, shingle) tables; the
    * overlap is an equi-join on the shingle — blocked exactly like
    * [[jaccardPairs]], never all-pairs. The eval side is collapsed to a
    * DISTINCT shingle set first; eval corpora are tiny next to a 100-TB
    * training corpus, so AQE broadcasts that side and the training
    * shingle table is never shuffled at all. Returns EVERY training doc
    * (hit or not): (doc_id, n_hits, contaminated).
    */
  def decontaminate(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5
  ): DataFrame = {
    val trainSh = shingles(train, idCol, textCol, n)
    val evalSh = shingles(eval, idCol, textCol, n).select(col("sh")).distinct()
    val hits = trainSh
      .join(evalSh, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    train
      .select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated")
      )
  }

  /** TF-IDF shingle cosine pairs — SPARSE lexical vector similarity as
    * pure relational algebra: docs become tf·idf-weighted n-gram-shingle
    * vectors (unigrams degenerate on small vocabularies; shingles are
    * combinatorial) and the sparse dot product is a postings SELF-JOIN on
    * the shingle — no dense vectors, no index, the inverted-file algebra
    * BM25 uses turned into an all-pairs similarity. Returns
    * (doc_a, doc_b, tfidf_cos) for pairs clearing `tau`, doc_a < doc_b.
    *
    * Scale: the df window (2 ≤ df ≤ min(maxDfFraction·N, maxDfAbs)) is
    * the load-bearing move — df=1 shingles cannot pair (dropped), high-df
    * shingles are stopword-like AND quadratic in fan-out (each shingle
    * contributes ≤ df² pairs). The FRACTIONAL cap alone is not a scale
    * bound: a shingle sitting at 0.1·N emits ~0.01·N² pairs, quadratic in
    * corpus size. `maxDfAbs` is the N-INDEPENDENT ceiling — per-shingle
    * fan-out is ≤ maxDfAbs² pairs no matter how large the corpus grows,
    * so total candidate volume is ≤ (#shingles)·maxDfAbs², linear in
    * corpus size for fixed cap. At the test scale factors the fractional
    * cap is the binding one (0.1·N ≪ 10⁴), so small-SF oracle results are
    * unchanged; at web scale the absolute cap takes over. Every shuffle
    * is keyed on the shingle or the (doc_a, doc_b) pair; dot products and
    * norms route through decimals so both engines sum exactly.
    */
  def tfidfPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      maxDfFraction: Double = 0.1,
      maxDfAbs: Int = 10000,
      tau: Double = 0.4
  ): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val (w, nrm, dfw) = tfidfWeights(df, idCol, textCol, n, maxDfFraction, maxDfAbs)
    // Size-adaptive parallelism for the pair aggregation (r15; guide §2
    // partition sizing / §5 spill): the candidate volume is Σ C(df, 2)
    // over the windowed dfreq — 109× the byte decade on a near-dup-heavy
    // corpus (sf0.1 1.27M pairs → derived sf1 138M), so a fixed
    // shuffle.partitions aggregate builds multi-million-entry decimal
    // hash tables per task and collapses into spill-sort loops (r14
    // telemetry: 39 GB memory spill, 44–54% GC share at sf1). The
    // explicit repartition keyed on the GROUPING columns moves the
    // exchange BELOW the aggregate (the agg's required distribution is
    // already satisfied, so partial+final fuse into the post-exchange
    // stage — the join stage streams pairs straight to shuffle write
    // with no partial-agg buffering) and sizes the task count by the
    // measured pair volume (~1M pairs/task), floored at the session's
    // shuffle parallelism so small SFs keep their plan-equivalent
    // parallelism.
    val npRow = dfw
      .agg(sum((col("df") * (col("df") - 1)).cast("long") / 2).as("np"))
      .first()
    val nPairs = if (npRow.isNullAt(0)) 0.0 else npRow.getDouble(0)
    val nAgg = math.max(
      df.sparkSession.sessionState.conf.numShufflePartitions,
      math.ceil(nPairs / 1e6).toInt)
    val dots = w.as("a")
      .join(w.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("a.w") * col("b.w")).as("p"))
      .repartition(nAgg, col("doc_a"), col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("p").cast(DecimalType(38, 20))).cast("double").as("dt"))
    dots
      .join(nrm.select(col("doc_id").as("doc_a"), col("nm").as("na")), "doc_a")
      .join(nrm.select(col("doc_id").as("doc_b"), col("nm").as("nb")), "doc_b")
      .withColumn("cos", col("dt") / (col("na") * col("nb")))
      .filter(col("cos") >= tau)
      .select(col("doc_a"), col("doc_b"), round(col("cos"), 6).as("tfidf_cos"))
  }

  /** The tf·idf weight table behind [[tfidfPairs]]: (doc_id, sh, w)
    * postings under the df window, plus per-doc L2 norms. Shingles
    * travel as 56-bit md5 keys from the
    * first shuffle on: every downstream consumer (tf/df aggs, the join
    * sides) keys on the shingle only — the string itself is never needed
    * again, so 8-byte keys replace multi-word strings in every exchange.
    * The hash is output-invisible (pairs + cosines are over doc ids),
    * same licence as the rolling-hash window keys in duplicatedSpans.
    */
  private def tfidfWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxDfFraction: Double,
      maxDfAbs: Int
  ): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.DecimalType
    val tf = spanPositions(spread(df.select(col(idCol), col(textCol))), idCol, textCol, n)
      .select(col("doc_id"), md5Long(col("sh")).as("sh"))
      .groupBy(col("doc_id"), col("sh"))
      .agg(count(lit(1)).as("tf"))
      // evaluate once: FOUR consumers re-derive from tf (df counts, norms,
      // both self-join sides), and tf is the compact cut point — the
      // post-agg (doc, 8-byte shingle, count) table, far smaller than the
      // exploded positions feeding it (measured ~15% on the full query;
      // checkpointing the downstream weight table instead measured SLOWER
      // — it re-materializes the join against df that each consumer
      // pipelines cheaply)
      .localCheckpoint()
    val dfreq = tf.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n"))
    val w = tf
      .join(dfreq, "sh")
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= 2 &&
        col("df") <= least(floor(col("n") * maxDfFraction), lit(maxDfAbs.toLong)))
      .select(
        col("doc_id"), col("sh"), col("df"),
        (col("tf") *
          log((lit(1) + col("n")).cast("double") / (lit(1) + col("df"))))
          .as("w"))
    val nrm = w
      .groupBy(col("doc_id"))
      .agg(sqrt(
        sum((col("w") * col("w")).cast(DecimalType(38, 20))).cast("double"))
        .as("nm"))
    // the windowed dfreq rides along so callers can SIZE the candidate
    // aggregation from Σ C(df, 2) without re-deriving the df window
    val dfw = dfreq
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= 2 &&
        col("df") <= least(floor(col("n") * maxDfFraction), lit(maxDfAbs.toLong)))
      .select(col("sh"), col("df"))
    (w, nrm, dfw)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space with k-means, then search for near-duplicate pairs only WITHIN
    * each cluster — the clustering is the blocking structure that turns
    * the quadratic all-pairs cosine scan into k independent
    * (N/k)²-sized problems. Returns (cluster, doc_a, doc_b, cosine) for
    * within-cluster pairs with cosine >= tau (doc_a < doc_b).
    *
    * Shape at scale: one argmin pass over the corpus (native codegen
    * centroid kernel, k×d matrix embedded in the plan), then a
    * self-equi-join ON THE CLUSTER ID — both sides are the same subtree,
    * so the assignment exchange is computed once and reused, and no pair
    * ever crosses a cluster boundary. At web scale k is chosen ~√N so
    * clusters stay bounded; a skewed HOT cluster is handled by
    * `hotClusterTarget > 0`: every cluster whose size exceeds the target
    * is triangle-block salted — each doc draws a deterministic salt in
    * `[0, ceil(size/target))` from its md5 and replicates to the
    * `(pi, pj)` triangle tasks containing that salt (the
    * [[embeddingPairs]] blocking, here keyed per cluster), so the join
    * key becomes `(cluster, pi, pj)` and no single reducer ever holds
    * more than ~2·target rows. Each unordered pair still meets in
    * EXACTLY one task (distinct salts meet only in `(min, max)`; equal
    * salts are restricted to the diagonal `pi = pj` task), and the
    * cosine is the same codegen kernel, so the output is bit-identical
    * to the unsalted spelling. The per-cluster salt count rides a
    * broadcast of the ≤k-row size table — metadata, never corpus data.
    * Norms are per-row invariants computed before the join.
    */
  def semDeDup(
      df: DataFrame, // (id, vec)
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      tau: Double = 0.9,
      hotClusterTarget: Int = 0
  ): DataFrame = {
    import graft.functions.VectorExpressions.dotFast
    val spark = df.sparkSession
    val a = df.select(
      KMeans.assignCol(spark, centroids, col(vecCol)).cast("long").as("cluster"),
      col(idCol).as("doc_id"),
      col(vecCol).as("v"),
      sqrt(dotFast(col(vecCol), col(vecCol))).as("nm")
    )
    // both join sides are corpus-sized: force the shuffle hash join on the
    // cluster key (a broadcast of "the smaller corpus half" would be the
    // auto-pick at toy scale and an OOM at real scale); the two sides are
    // the same subtree, so one exchange is computed and the other reused
    val (lhs, rhs, joinKey) =
      if (hotClusterTarget <= 0) {
        (a, a, (x: String, y: String) => col(s"$x.cluster") === col(s"$y.cluster"))
      } else {
        val sizes = a
          .groupBy(col("cluster"))
          .agg(ceil(count(lit(1)).cast("double") / hotClusterTarget)
            .cast("int").as("n_salts"))
        val salted = a
          .join(broadcast(sizes), "cluster")
          .withColumn(
            "salt",
            pmod(md5Long(col("doc_id").cast("string")), col("n_salts")).cast("int"))
          .select(
            col("cluster"), col("salt"), col("doc_id"), col("v"), col("nm"),
            explode(expr(
              "transform(sequence(0, n_salts - 1), k -> " +
                "struct(least(salt, k) AS pi, greatest(salt, k) AS pj))"
            )).as("p"))
          .select(
            col("cluster"), col("p.pi").as("pi"), col("p.pj").as("pj"),
            col("salt"), col("doc_id"), col("v"), col("nm"))
        (salted, salted, (x: String, y: String) =>
          col(s"$x.cluster") === col(s"$y.cluster")
            && col(s"$x.pi") === col(s"$y.pi")
            && col(s"$x.pj") === col(s"$y.pj")
            // same-salt pairs share every task holding their salt; keep
            // them only on the diagonal so each pair is emitted once
            && (col(s"$x.salt") =!= col(s"$y.salt")
              || col(s"$x.pi") === col(s"$x.pj")))
      }
    lhs.as("x")
      .join(rhs.hint("shuffle_hash").as("y"),
        joinKey("x", "y") && col("x.doc_id") < col("y.doc_id"))
      .withColumn(
        "cosine",
        dotFast(col("x.v"), col("y.v")) / (col("x.nm") * col("y.nm")))
      .filter(col("cosine") >= tau)
      .select(
        col("x.cluster").as("cluster"),
        col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"),
        col("cosine"))
  }

  /** Semantic decontamination — the third rung of the ladder (exact
    * n-gram overlap → fuzzy MinHash-Jaccard → EMBEDDING COSINE): a
    * training doc is contaminated when its embedding has cosine ≥ tau to
    * any eval embedding, catching rewritten/translated eval leaks that
    * share no surface n-grams at all. Returns one row per training doc:
    * (doc_id, n_matches, max_cos, contaminated) — max_cos rounded to 6
    * places, NULL when nothing clears tau.
    *
    * Scale: the eval corpus is structurally the small side (a benchmark,
    * not a crawl), so it broadcasts and the training corpus STREAMS
    * through the codegen'd cosine filter — one pass, no shuffle of
    * training data; the only aggregation carries the ≥-tau pairs. Norms
    * are computed once per side before the join.
    */
  def decontaminateEmbedding(
      train: DataFrame, // (id, vec)
      eval: DataFrame,  // (id, vec)
      idCol: String,
      vecCol: String,
      tau: Double = 0.9
  ): DataFrame = {
    import graft.functions.VectorExpressions.dotFast
    val t = train.select(
      col(idCol).as("doc_id"), col(vecCol).as("tv"),
      sqrt(dotFast(col(vecCol), col(vecCol))).as("tn"))
    val e = eval.select(
      col(idCol).as("eval_id"), col(vecCol).as("ev"),
      sqrt(dotFast(col(vecCol), col(vecCol))).as("en"))
    val hits = t
      .join(broadcast(e))
      .withColumn("cos", dotFast(col("tv"), col("ev")) / (col("tn") * col("en")))
      .filter(col("cos") >= tau)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), max(col("cos")).as("max_cos"))
    train
      .select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        round(col("max_cos"), 6).as("max_cos"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("contaminated")
      )
  }

  /** Fuzzy decontamination — MinHash-LSH across two corpora: a training
    * doc is contaminated when it is NEAR-duplicate (exact shingle Jaccard
    * ≥ tau, candidates from shared LSH band signatures) to any eval doc,
    * catching paraphrased/trimmed eval leaks that [[decontaminate]]'s
    * exact n-gram overlap understates. Returns one row per training doc:
    * (doc_id, n_matches, max_jaccard, contaminated).
    *
    * Scale: both corpora are minhashed independently (one groupBy each —
    * same shape as [[minhashLsh]]); candidates materialize only inside a
    * shared (band, signature) bucket, and the verify join touches
    * candidate pairs only. The eval side is tiny next to the training
    * corpus, so the bucket join broadcasts it and nothing about the
    * training side is ever pairwise.
    */
  def decontaminateFuzzy(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numPerms: Int = 16,
      bands: Int = 4,
      tau: Double = 0.5
  ): DataFrame = {
    require(numPerms % bands == 0)
    val shT = shingles(train, idCol, textCol, n)
    val shE = shingles(eval, idCol, textCol, n)
    // min is duplicate-insensitive: signatures read the raw span streams,
    // skipping the distinct string shuffles (see minhashLsh)
    val cand = bandSignatures(spanPositions(train, idCol, textCol, n), numPerms, bands).as("a")
      .join(
        broadcast(bandSignatures(spanPositions(eval, idCol, textCol, n), numPerms, bands)).as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val common = cand
      .join(shT.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(shE.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .filter(col("sh") === col("shb"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("c"))
    val sizesT = shT.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val sizesE = shE.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val matches = common
      .join(sizesT.select(col("doc_id").as("doc_a"), col("nsh").as("na")), "doc_a")
      .join(sizesE.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), "doc_b")
      .withColumn(
        "jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c"))
      )
      .filter(col("jaccard") >= tau)
      .groupBy(col("doc_a"))
      .agg(count(lit(1)).as("n_matches"), max(col("jaccard")).as("max_jaccard"))
    train
      .select(col(idCol).as("doc_id"))
      .join(matches.withColumnRenamed("doc_a", "doc_id"), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        round(coalesce(col("max_jaccard"), lit(0.0)), 6).as("max_jaccard"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("contaminated")
      )
  }

  /** Exact duplicated-SPAN detection — the character-level substring
    * dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better": duplicate substrings found via suffix
    * arrays), re-expressed as relational algebra: every length-`w` char
    * window occurring in >= `minDocs` DISTINCT documents is duplicated,
    * and overlapping duplicated windows inside a document merge
    * (gaps-and-islands) into the maximal spans a training pipeline would
    * cut. Unlike doc-level dedup (exact/minhash/simhash above) this finds
    * the COPIED PASSAGE inside otherwise-distinct documents — licenses,
    * boilerplate headers, quoted chunks.
    *
    * Returns (doc_id, span_start, span_end, span_len, n_windows) with
    * 1-based inclusive char offsets, one row per maximal span.
    *
    * Scale: one window row per char position — the same O(total chars)
    * volume a suffix array indexes, with no pairwise enumeration
    * anywhere. Window hashing is a native Rabin–Karp rolling kernel
    * ([[graft.functions.RollingHashWindowsExpr]]): ONE multiply-add per
    * corpus character instead of a digest over every w-char window
    * (O(chars), not O(chars × w)), emitting 8-byte shuffle keys — never
    * the strings — so the duplicate-window groupBy shuffles O(chars × 8B)
    * and the df-filter is a plain equi-join on the long key (AQE handles
    * hot boilerplate keys). The hash is output-invisible (any
    * equal-window-preserving key yields the same spans), which is what
    * licenses the cheaper kernel against the oracle's md5 grouping. The
    * island merge is a per-doc sort inside one hash-partitioned window —
    * state O(1) per doc, no driver collection.
    */
  def duplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 40,
      minDocs: Int = 2
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The window kernel costs a multiply-add per CHARACTER, so its cost
    // is corpus-bytes-shaped even when the scan is tiny — [[spread]]'s
    // case exactly (measured: two 1-task ~1 s stages dominated
    // dedup_substring at sf0.1 before it, r15)
    val docs = spread(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")))
    val wins = docs
      .select(
        col("doc_id"),
        posexplode(
          graft.functions.RollingHashWindowsExpr
            .rollingHashWindows(col("text"), w)
        ).as(Seq("p", "h"))
      )
      .select(
        col("doc_id"),
        (col("p") + 1).cast("long").as("s"),
        col("h")
      )
      // NO evaluate-once materialization here, deliberately: with the
      // rolling kernel the window table costs one multiply-add per char
      // to rebuild, while materializing it writes 24 B/char (3 longs) —
      // at corpus scale that dwarfs re-reading ~1 B/char of compressed
      // text. Both consumers (dup agg, join-back) shuffle on `h`, so the
      // exchange below is shareable anyway. (With the old per-window md5
      // kernel the trade went the other way; measured neutral at bench
      // scale.)
    val dup = wins
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"))
    val pos = wins
      .join(dup, "h")
      .select(col("doc_id"), col("s"), (col("s") + (w - 1)).as("e"))
    mergeSpans(pos)
  }

  /** Gaps-and-islands merge of (doc_id, s, e) window hits into maximal
    * disjoint spans — the shared tail of [[duplicatedSpans]] and
    * [[contaminatedSpans]]. Per-doc sort inside one hash-partitioned
    * window, state O(1) per doc, no driver collection. Overlapping OR
    * adjacent (gap 0) windows merge; a ≥2-char gap starts a new span.
    */
  private def mergeSpans(pos: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val isl = pos
      .withColumn(
        "pmax",
        max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
      )
      .withColumn(
        "g",
        sum(
          when(col("pmax").isNull || col("s") > col("pmax") + 1, 1L)
            .otherwise(0L)
        ).over(byDoc)
      )
    isl
      .groupBy(col("doc_id"), col("g"))
      .agg(
        min(col("s")).as("span_start"),
        max(col("e")).as("span_end"),
        (max(col("e")) - min(col("s")) + 1).as("span_len"),
        count(lit(1)).as("n_windows")
      )
      .select(
        col("doc_id"), col("span_start"), col("span_end"),
        col("span_len"), col("n_windows")
      )
  }

  /** Span-level decontamination (the surgical variant of
    * [[decontaminate]]): maximal character spans of each training doc
    * that appear verbatim (any length-`w` window) anywhere in the eval
    * corpus. Doc-level decontamination drops a 10k-token document over
    * one leaked benchmark sentence; span detection localizes the leak so
    * [[scrubSpans]] can cut just the contaminated characters and keep
    * the rest — the Lee et al. 2022 ExactSubstr move applied across
    * corpora instead of within one.
    *
    * Returns (doc_id, span_start, span_end, span_len, n_windows), one
    * row per maximal span per train doc, 1-based inclusive char offsets.
    *
    * Scale: both corpora stream through the O(chars) rolling-hash kernel
    * ([[graft.functions.RollingHashWindowsExpr]]); the eval side
    * collapses to its DISTINCT 8-byte window hashes (eval corpora are
    * benchmark-sized — AQE broadcasts the set when it fits, and the
    * Bloom-prefilter move of [[decontaminateBloom]] drops in unchanged
    * if it ever doesn't). The train side never shuffles strings in the
    * PROBE pass: it ships (long, long, long) rows, the merge is per-doc
    * windowed.
    *
    * Because [[scrubSpans]] makes this path DESTRUCTIVE, hash hits are
    * verified VERBATIM by default before any span is reported: a base-B
    * polynomial hash mod 2^64 has structured collision classes (e.g.
    * Thue–Morse-style inputs collide for any odd base), so crafted or
    * pathological corpora could otherwise silently delete clean text.
    * The verify pass is candidate-bounded — only hash-hit windows have
    * their actual strings extracted (one extra equi-join of the tiny
    * candidate set against the train table) and matched against the
    * distinct eval window strings for those hashes, so the O(chars)
    * probe economics are untouched and the result is EXACT even
    * adversarially. `verifyVerbatim = false` restores the pure-hash
    * probe (collision probability ~2^-64 per pair on RANDOM inputs —
    * fine for analytics, not for the scrub).
    */
  def contaminatedSpans(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 20,
      verifyVerbatim: Boolean = true
  ): DataFrame = {
    import graft.functions.RollingHashWindowsExpr.rollingHashWindows
    val evH = eval
      .select(explode(rollingHashWindows(col(textCol), w)).as("h"))
      .distinct()
    val cand = train
      .select(
        col(idCol).as("doc_id"),
        posexplode(rollingHashWindows(col(textCol), w)).as(Seq("p", "h"))
      )
      .join(evH, "h")
    val hits =
      if (!verifyVerbatim) cand
      else {
        // eval window strings, deduped on (hash, string) — benchmark-sized
        val evW = eval
          .select(
            col(textCol).as("t"),
            posexplode(rollingHashWindows(col(textCol), w)).as(Seq("q", "h")))
          .select(col("h"), expr(s"substring(t, q + 1, $w)").as("str"))
          .distinct()
        // extract each candidate's actual window text (candidate-bounded
        // re-join against train) and keep only verbatim matches
        cand
          .join(
            train.select(col(idCol).as("doc_id"), col(textCol).as("t")),
            "doc_id")
          .select(
            col("doc_id"), col("p"), col("h"),
            expr(s"substring(t, p + 1, $w)").as("str"))
          .join(evW, Seq("h", "str"))
      }
    val pos = hits.select(
      col("doc_id"),
      (col("p") + 1).cast("long").as("s"),
      (col("p") + w).cast("long").as("e")
    )
    mergeSpans(pos)
  }

  /** Cut disjoint character spans out of each doc and reassemble the
    * remainder — the rewrite half of [[contaminatedSpans]] (the
    * char-level twin of [[removeBoilerplate]]). `spans` must be disjoint
    * per doc (which [[mergeSpans]]-derived tables are by construction).
    * Docs with no spans pass through byte-identical. Returns
    * (doc_id, clean_text, n_spans, removed_chars).
    *
    * The reassembly is a per-row HOF fold over the doc's sorted span
    * array (kept-gap substrings concatenated left to right) — pure
    * column algebra, no UDF, no extra shuffle beyond the one
    * span-table groupBy.
    */
  def scrubSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spans: DataFrame // (doc_id, span_start, span_end), disjoint per doc
  ): DataFrame = {
    val sp = spans
      .groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(struct(
          col("span_start").as("s"), col("span_end").as("e")))).as("sps"),
        count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start") + 1).as("removed_chars")
      )
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .join(sp, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("sps").isNull, col("text"))
          .otherwise(expr(
            """aggregate(
              sps,
              struct(CAST(1 AS BIGINT) AS pos, '' AS acc),
              (st, sp) -> struct(
                CAST(sp.e + 1 AS BIGINT),
                concat(st.acc,
                  substring(text, CAST(st.pos AS INT),
                            CAST(greatest(sp.s - st.pos, 0) AS INT)))),
              st -> concat(st.acc,
                substring(text, CAST(st.pos AS INT),
                          greatest(length(text) - CAST(st.pos AS INT) + 1, 0))))"""
          ))
          .as("clean_text"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("removed_chars"), lit(0L)).as("removed_chars")
      )
  }

  /** The k Bloom bit positions of a shingle: double hashing (Kirsch &
    * Mitzenmacher 2006) over two independent xxhash64 draws, masked into a
    * power-of-two bit space. Pure built-in column algebra — codegen'd on
    * both the build and the probe side, and identical on both by
    * construction.
    */
  private def bloomPositions(sh: Column, mBits: Int, k: Int): Seq[Column] = {
    // both draws masked to 31 bits (h2 forced odd) so h1 + 15·h2 stays
    // far below Long.MaxValue — ANSI mode makes a wrapping overflow an
    // ERROR, so the combination must genuinely not overflow
    val h1 = xxhash64(sh).bitwiseAND(lit(0x7fffffffL))
    val h2 = xxhash64(sh, lit(0x9e3779b9L)).bitwiseAND(lit(0x7fffffffL))
      .bitwiseOR(lit(1L))
    (0 until k).map { i =>
      (h1 + lit(i.toLong) * h2).bitwiseAND(lit((mBits - 1).toLong)).cast("int")
    }
  }

  /** Bloom-filter decontamination — bit-identical to [[decontaminate]],
    * with the eval-side shingle set carried to the train scan as a COMPACT
    * Bloom bit array instead of a distinct-set join side. Two stages:
    *
    *   1. prefilter: every train shingle tests k bits of the broadcast
    *      bit array (plan-embedded literal long array, element_at + shift
    *      — stays inside whole-stage codegen). False positives pass,
    *      false negatives cannot (every true eval shingle set its bits).
    *   2. exact verify: only the surviving (doc_id, sh) candidates join
    *      the true distinct eval shingle set, so the result is EXACT —
    *      the Bloom only prunes the join's probe side.
    *
    * Scale: this is the 100 TB shape of decontamination. The eval corpus
    * (benchmark suites) is tiny next to train but its distinct-shingle
    * set is still millions of strings; as a broadcast hash set that is
    * GBs of JVM strings per executor, as a Bloom it is `mBits/8` bytes
    * (e.g. 128 MB worth of eval shingles → a 16 MB filter at 10 bits/key,
    * ~1% FP). The bit array is built by a distributed OR-fold
    * (`treeAggregate`) over the eval shingles — no driver-side set
    * materialization — and the exact-verify join then touches only the
    * ~(true hits + FP·|train shingles|) surviving rows.
    */
  def decontaminateBloom(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      mBits: Int = 1 << 20,
      kHashes: Int = 5
  ): DataFrame = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0, "mBits: power of two >= 64")
    require(kHashes >= 1 && kHashes <= 16, "kHashes in [1,16]")
    val evalSh = shingles(eval, idCol, textCol, n).select(col("sh")).distinct()
    val mWords = mBits >>> 6
    val bits = evalSh
      .select(array(bloomPositions(col("sh"), mBits, kHashes): _*).as("pos"))
      .select(explode(col("pos")).as("pos"))
      .rdd
      .map(_.getInt(0))
      .treeAggregate(new Array[Long](mWords))(
        (acc, p) => { acc(p >>> 6) |= 1L << (p & 63); acc },
        (a, b) => { var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a }
      )
    val bitsLit = lit(bits)
    // element_at is 1-based; positions are pre-masked < mBits, so the word
    // index is a plain shift. The bit shift distance is a COLUMN, which the
    // Scala `shiftright` wrapper doesn't accept — route through the SQL
    // function, same codegen'd ShiftRight expression.
    def testBit(pos: Column): Column =
      call_function(
        "shiftright",
        element_at(bitsLit, shiftright(pos, 6) + 1),
        pos.bitwiseAND(lit(63))
      ).bitwiseAND(lit(1L)) === 1L
    val mightContain = bloomPositions(col("sh"), mBits, kHashes)
      .map(testBit)
      .reduce(_ && _)
    val trainSh = shingles(train, idCol, textCol, n)
    val hits = trainSh
      .filter(mightContain)
      .join(evalSh, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    train
      .select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated")
      )
  }

  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD
    * 2003 — the MOSS scheme): hash every character k-gram, slide a window
    * of `w` consecutive k-gram hashes, and select each window's MINIMUM
    * (rightmost on ties — "robust winnowing"). The selected set has
    * expected density 2/(w+1) and carries the paper's GUARANTEE: any
    * substring match of length ≥ w+k−1 shares at least one fingerprint
    * (WinnowSpec property-tests it), while nothing shorter than k is ever
    * matched — the local, position-robust alternative to MinHash's
    * whole-document sampling.
    *
    * Engine-portable by construction: the k-gram hash is the first 8 hex
    * chars of md5 (identical text in both engines), and the
    * rightmost-min tie rule is folded into a single `min()` window over
    * the string key  hash8 ∥ zeroPad(10⁹ − pos)  — lexicographic min =
    * (smallest hash, then LARGEST position), so one plain aggregate
    * replays bit-identically in SQL. Windows start only at positions
    * 1..max(1, m−w+1) (m = #k-grams); a document with m < w degenerates
    * to its single global minimum, and documents shorter than k emit
    * nothing.
    *
    * Scale: per-doc window sort + linear explode — O(chars) rows keyed by
    * doc, no cross-doc anything; the md5-of-k-gram hash is O(k) per
    * position with k a small constant (the oracle-replayable trade
    * against the order-dependent Rabin–Karp kernel, whose values cannot
    * be reproduced by a non-wrapping engine).
    *
    * @return (doc_id, pos, fp) — 1-based k-gram position and 8-hex-char
    *         fingerprint of each selected k-gram, deduped
    */
  def winnowFingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      w: Int = 4
  ): DataFrame = {
    require(k >= 1, s"winnow: k-gram size must be >= 1, got $k")
    require(w >= 1, s"winnow: window must be >= 1, got $w")
    import org.apache.spark.sql.expressions.Window
    val base = docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("txt"))
      .withColumn("m", length(col("txt")) - (k - 1))
      .filter(col("m") >= 1)
    val keys = base
      .select(
        col("doc_id"), col("m"),
        explode(expr("sequence(1, m)")).as("p"), col("txt"))
      .select(
        col("doc_id"), col("m"), col("p"),
        concat(
          substring(md5(expr(s"substring(txt, p, $k)")), 1, 8),
          lpad((lit(1000000000) - col("p")).cast("string"), 10, "0")
        ).as("kk"))
    val win = Window
      .partitionBy(col("doc_id"))
      .orderBy(col("p"))
      .rowsBetween(0, w - 1)
    keys
      .withColumn("sel", min(col("kk")).over(win))
      .filter(col("p") <= greatest(lit(1), col("m") - (w - 1)))
      .select(col("doc_id"), col("sel"))
      .distinct()
      .select(
        col("doc_id"),
        (lit(1000000000) - substring(col("sel"), 9, 10).cast("long"))
          .as("pos"),
        substring(col("sel"), 1, 8).as("fp"))
  }

  /** Row-local spelling of [[winnowFingerprints]] — the whole selection
    * (k-gram keys, per-window rightmost-min, dedupe) as higher-order
    * functions over ONE row's text (`transform`/`slice`/`array_min` on
    * the same hash8 ∥ zeroPad(10⁹−pos) keys), so it runs on an append
    * STREAM (no per-doc window partition, which Structured Streaming
    * rejects) and is bit-equal to the batch operator by construction
    * (StreamingSpec pins it). Same output schema: (doc_id, pos, fp).
    */
  def winnowFingerprintsRow(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      w: Int = 4
  ): DataFrame = {
    require(k >= 1, s"winnow: k-gram size must be >= 1, got $k")
    require(w >= 1, s"winnow: window must be >= 1, got $w")
    docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("txt"))
      .withColumn("m", length(col("txt")) - (k - 1))
      .filter(col("m") >= 1)
      .withColumn(
        "kks",
        expr(s"""transform(sequence(1, m), p ->
                 concat(substring(md5(substring(txt, p, $k)), 1, 8),
                        lpad(cast(1000000000 - p AS string), 10, '0')))"""))
      .withColumn(
        "sel",
        explode(expr(
          s"""array_distinct(transform(
                sequence(1, greatest(1, m - ${w - 1})),
                i -> array_min(slice(kks, i, $w))))""")))
      .select(
        col("doc_id"),
        (lit(1000000000) - substring(col("sel"), 9, 10).cast("long"))
          .as("pos"),
        substring(col("sel"), 1, 8).as("fp"))
  }

  /** Near-dup pairs by DISCRIMINATIVE-fingerprint Jaccard over the
    * winnowing signature sets: fingerprints with df > `maxDfAbs` are
    * boilerplate (shared headers, template 5-grams — on a near-dup
    * question they carry no signal, exactly the mass idf would discount
    * to ~0 in [[tfidfPairs]]) and are excluded from BOTH the numerator
    * and the denominator; the score is the exact set Jaccard over the
    * remaining ≤-cap fingerprints. Two deliberate consequences, both
    * spec-pinned: identical documents still score exactly 1.0 (their
    * capped sets are identical too), and a pair that shares ONLY
    * boilerplate produces no pair at all — template overlap is not
    * duplication.
    *
    * Scale: the self-join runs on the capped inverted index only —
    * per-fingerprint fan-out ≤ C(maxDfAbs, 2), N-independent (the
    * [[tfidfPairs]] maxDfAbs discipline) — and the shared counts fall
    * straight out of that join's group-by: no candidate materialization,
    * no second verify pass (the uncapped-verify spelling re-joined the
    * corpus fingerprint table twice; this one touches it once).
    *
    * @return (doc_a, doc_b, shared, jaccard) with jaccard ≥ `tau`,
    *         counted over the ≤-maxDfAbs fingerprint universe
    */
  def winnowPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      w: Int = 4,
      tau: Double = 0.3,
      maxDfAbs: Int = 1000
  ): DataFrame = {
    require(maxDfAbs >= 2, s"winnow: maxDfAbs must be >= 2, got $maxDfAbs")
    // the row-local kernel (bit-equal to the windowed spelling,
    // StreamingSpec-pinned) extracts with ZERO shuffle — no per-doc
    // sort of the exploded position table
    winnowPairsFrom(
      winnowFingerprintsRow(docs, idCol, textCol, k, w), tau, maxDfAbs)
  }

  /** [[winnowPairs]] over an ALREADY-EXTRACTED fingerprint table
    * (doc_id, …, fp) — the serving split when the signature index is
    * materialized once and shared across consumers (the extraction is
    * the corpus-sized pass; pairing runs on the bounded index).
    */
  def winnowPairsFrom(
      fingerprints: DataFrame,
      tau: Double,
      maxDfAbs: Int
  ): DataFrame = {
    require(maxDfAbs >= 2, s"winnow: maxDfAbs must be >= 2, got $maxDfAbs")
    // the fingerprint table feeds the df census, the sizes aggregate and
    // both self-join sides — materialize it once or the extraction
    // re-runs per consumer
    val fp = fingerprints
      .select(col("doc_id"), col("fp"))
      .distinct()
      .localCheckpoint()
    // scoring universe: discriminative fingerprints only (df ≤ cap);
    // df = 1 fingerprints stay — they never pair but they DO count in
    // the denominator (a doc full of unique content is dissimilar)
    val keep = fp
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDfAbs)
      .select(col("fp"))
    val idx = fp.join(keep, "fp")
    val sizes = idx.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val shared = idx.as("a")
      .join(idx.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("nf").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nf").as("nb")), "doc_b")
      .withColumn(
        "jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("jaccard"))
  }
}
