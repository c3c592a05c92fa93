package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Packing, TextAnalysis}
import Q._

/** Dedup + text-analysis query surface over `documents` (the LLM-pipeline
  * extension operators). All hashes are md5-derived so both engines compute
  * identical signatures; shared CTE text mirrors the Scala operators
  * exactly (tokenize -> shingle -> hash -> block -> verify).
  */
object TextQueries {

  /** Deterministic PAGED fixture for the C4 filter queries: the flat
    * token stream re-lined at 8 tokens/line, a 70% md5-coin terminal
    * period per line, a "lorem ipsum" placeholder line prepended to 5%
    * of pages and a "{" code line to 4% — the derived-fixture precedent
    * (containment's snippet corpus, text_pii's injected PII) that makes
    * every C4 rule observable on a corpus that natively has no line
    * structure. Mirrored step for step in [[pagedCtes]].
    */
  private def pagedDocs(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): org.apache.spark.sql.DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("nl", ceil(size(col("toks")) / lit(8.0)).cast("int"))
      .withColumn(
        "lines",
        transform(
          sequence(lit(0), col("nl") - 1),
          i =>
            concat(
              array_join(slice(col("toks"), i * 8 + 1, lit(8)), " "),
              when(
                Dedup.md5Long(concat(
                  col("doc_id").cast("string"), lit(":"),
                  i.cast("string"), lit(":punct"))) % 10 < 7,
                lit(".")).otherwise(lit("")))))
      .withColumn(
        "lines",
        when(
          Dedup.md5Long(
            concat(col("doc_id").cast("string"), lit(":brace"))) % 25 === 0,
          concat(array(lit("config { retries: 3 }")), col("lines")))
          .otherwise(col("lines")))
      .withColumn(
        "lines",
        when(
          Dedup.md5Long(
            concat(col("doc_id").cast("string"), lit(":lorem"))) % 20 === 0,
          concat(array(lit("lorem ipsum dolor sit amet.")), col("lines")))
          .otherwise(col("lines")))
      .select(col("doc_id"), array_join(col("lines"), "\n").as("page"))

  /** DuckDB mirror of [[pagedDocs]] — ends at `pl3(doc_id, lines)`. */
  private val pagedCtes: String = """
    pg AS (SELECT doc_id, t, ceil(len(t) / 8.0)::INT AS nl
           FROM (SELECT doc_id, string_split(text, ' ') AS t
                 FROM documents)),
    pl AS (SELECT doc_id,
                  list_transform(generate_series(0, nl - 1), i ->
                    array_to_string(t[(i*8+1):(i*8+8)], ' ') ||
                    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':' ||
                               i::VARCHAR || ':punct'), 1, 14))::BIGINT
                              % 10 < 7
                         THEN '.' ELSE '' END) AS lines
           FROM pg),
    pl2 AS (SELECT doc_id,
                   CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR ||
                              ':brace'), 1, 14))::BIGINT % 25 = 0
                        THEN ['config { retries: 3 }'] || lines
                        ELSE lines END AS lines
            FROM pl),
    pl3 AS (SELECT doc_id,
                   CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR ||
                              ':lorem'), 1, 14))::BIGINT % 20 = 0
                        THEN ['lorem ipsum dolor sit amet.'] || lines
                        ELSE lines END AS lines
            FROM pl2)"""

  /** DuckDB spelling of [[TextAnalysis]]'s C4 line-keep rule (applied to
    * a lambda-bound line `l`).
    */
  private val c4KeptSql: String =
    """len(list_filter(string_split(l, ' '), w -> w != '')) >= 3
       AND right(l, 1) IN ('.', '!', '?', '"')"""

  /** Shared oracle block: 64-bit simhash -> 4x16-bit band candidates ->
    * hamming <= 3 pairs -> recursive closure to near-dup components
    * (rep = min id). Byte-identical to the spelling previously inlined
    * in pipeline_select; ends at `comps(id, rep)`.
    */
  private val simhashClosureCtes: String = """        w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents),
        h AS (SELECT doc_id,
                     ((CASE WHEN xh >= 2147483648 THEN xh - 4294967296
                            ELSE xh END) * 4294967296 + xl)::BIGINT AS x
              FROM (SELECT doc_id,
                           ('0x' || substr(md5(w), 1, 8))::BIGINT AS xh,
                           ('0x' || substr(md5(w), 9, 8))::BIGINT AS xl
                    FROM w)),
        s AS (SELECT doc_id, b,
                     sum(CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
              GROUP BY doc_id, b),
        sig AS (SELECT doc_id,
                       sum(CASE WHEN s >= 0 THEN
                     CASE WHEN b = 63 THEN -9223372036854775807 - 1
                          ELSE 1::BIGINT << b END ELSE 0 END)::BIGINT
                         AS simhash
                FROM s GROUP BY doc_id),
        sig2 AS (SELECT doc_id, simhash,
                        simhash & 65535 AS b0,
                        (simhash >> 16) & 65535 AS b1,
                        (simhash >> 32) & 65535 AS b2,
                        (simhash >> 48) & 65535 AS b3
                 FROM sig),
        cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.simhash AS sa, b.simhash AS sb
                 FROM sig2 a JOIN sig2 b
                   ON a.b0 = b.b0 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b1 = b.b1 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b2 = b.b2 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b3 = b.b3 AND a.doc_id < b.doc_id),
        pr AS (SELECT doc_a, doc_b FROM cand
               WHERE bit_count(xor(sa, sb)) <= 3),
        ed AS (SELECT doc_a AS a, doc_b AS b FROM pr
               UNION SELECT doc_b, doc_a FROM pr),
        reach(id, r) AS (
          SELECT a, a FROM ed
          UNION
          SELECT ed.a, reach.r FROM ed JOIN reach ON reach.id = ed.b),
        comps AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)"""

  /** Shared DuckDB CTEs: tokens, distinct 3-gram shingles, shingle-set
    * sizes (mirror of [[Dedup.shingles]]).
    */
  /** Oracle shared VERBATIM by dedup_tfidf_pairs and dedup_tfidf_prefix:
    * the two Spark paths are bit-identical by construction (spec-pinned),
    * so one exact SQL checks both. */
  private val tfidfOracleSql: String = """
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        sh AS (SELECT doc_id,
                      unnest(CASE WHEN len(t) >= 3
                        THEN list_transform(generate_series(1, len(t)-2),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                        ELSE []::VARCHAR[] END) AS term
               FROM tok),
        tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
               FROM sh GROUP BY doc_id, term),
        df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        n AS (SELECT count(*)::BIGINT AS n FROM documents),
        w AS (SELECT doc_id, tf.term,
                     tf * ln((1+n)::DOUBLE/(1+df)) AS w
              FROM tf JOIN df USING (term) CROSS JOIN n
              WHERE df >= 2 AND df <= least(floor(n * 0.1), 10000)),
        nrm AS (SELECT doc_id,
                       sqrt(sum((w*w)::DECIMAL(38,20))::DOUBLE) AS nm
                FROM w GROUP BY doc_id),
        dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        sum((a.w*b.w)::DECIMAL(38,20))::DOUBLE AS dt
                 FROM w a JOIN w b ON a.term = b.term
                                  AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id),
        cosv AS (SELECT doc_a, doc_b, dt/(na.nm*nb.nm) AS cos
                 FROM dots
                 JOIN nrm na ON na.doc_id = doc_a
                 JOIN nrm nb ON nb.doc_id = doc_b)
        SELECT doc_a, doc_b, round(cos, 6) AS tfidf_cos
        FROM cosv WHERE cos >= 0.4
      """

  private val shingleCtes = """
    tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  unnest(CASE WHEN len(t) >= 3
                         THEN list_transform(generate_series(1, len(t)-2),
                                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                         ELSE []::VARCHAR[] END) AS sh
           FROM tok),
    sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id)
  """

  /** Shared DuckDB recursion replaying [[TextAnalysis.bpeMerges]]'s
    * deterministic greedy merge loop (numMerges = 24, minPairCount = 2).
    * Working table at rank k = the symbol-split vocabulary after k
    * merges, each row carrying the merge (ml, mr, mc) that produced the
    * rank. The best pair is an aggregate subquery over the recursive
    * reference — DuckDB's recursive refs see exactly the previous
    * iteration's rows, which IS the loop semantics. The greedy
    * left-to-right non-overlap rewrite: matched pair position p is
    * merged iff the run of consecutively matched positions immediately
    * before p has even length (kept(p) = marked(p) AND NOT kept(p-1),
    * unrolled); survivors emit the fused symbol, their right neighbor
    * is dropped. Recursion ends at 24 rounds or when no pair reaches
    * the min count (empty CROSS JOIN).
    */
  private val bpeRecursiveCte = """
    WITH RECURSIVE
    wc AS (SELECT w, count(*)::BIGINT AS c
           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE w <> '' GROUP BY w),
    t(rank, w, syms, c, ml, mr, mc) AS (
      SELECT 0, w,
             list_transform(generate_series(1, length(w)), i -> w[i]),
             c, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
      FROM wc
      UNION ALL
      SELECT t.rank + 1, t.w,
             (SELECT list_filter(
                       list_transform(generate_series(1, len(t.syms)),
                         p -> CASE WHEN list_contains(k.kept, p)
                                   THEN t.syms[p] || t.syms[p+1]
                                   WHEN list_contains(k.kept, p - 1)
                                   THEN NULL
                                   ELSE t.syms[p] END),
                       x -> x IS NOT NULL)
              FROM (SELECT list_filter(m.marked,
                             p -> ((p - 1 - list_max(
                                     list_filter(n.nm, q -> q <= p - 1)))
                                   % 2) = 0)
                             AS kept
                    FROM (SELECT list_filter(
                             list_transform(
                               generate_series(1, len(t.syms) - 1),
                               p -> CASE WHEN t.syms[p] = best.l
                                          AND t.syms[p+1] = best.r
                                    THEN p ELSE NULL END),
                             x -> x IS NOT NULL) AS marked) m,
                         (SELECT [0] || list_filter(
                             generate_series(1, len(t.syms) - 1),
                             q -> NOT (t.syms[q] = best.l
                                       AND t.syms[q+1] = best.r)) AS nm) n
                   ) k),
             t.c, best.l, best.r, best.pc
      FROM t CROSS JOIN (
        SELECT pl AS l, pr AS r, sum(cc)::BIGINT AS pc
        FROM (SELECT u.syms[g.i] AS pl, u.syms[g.i + 1] AS pr, u.c AS cc
              FROM t u, unnest(generate_series(1, len(u.syms) - 1)) AS g(i))
        GROUP BY pl, pr HAVING sum(cc) >= 2
        ORDER BY pc DESC, l, r LIMIT 1
      ) best
      WHERE t.rank < 24
    )
  """

  /** DuckDB recursion replaying [[TextAnalysis.wordPieceTrain]]'s merge
    * loop (numMerges = 24, minPairCount = 2, corpus = src0 docs).
    * Structure is [[bpeRecursiveCte]]'s — working vocabulary rewritten
    * per rank by the kept-position calculus — with TWO deltas: the
    * word's char split carries the `##` continuation prefix (first char
    * bare), and the best-pair subquery joins the pair-count aggregate
    * against two symbol-count aggregates to score
    * `pc / (count(l)·count(r))`, ranked (score DESC, l, r).
    */
  private val wordPieceRecursiveCte = """
    WITH RECURSIVE
    wc AS (SELECT w, count(*)::BIGINT AS c
           FROM (SELECT unnest(string_split(text, ' ')) AS w
                 FROM documents WHERE source = 'src0')
           WHERE w <> '' GROUP BY w),
    t(rank, w, syms, c, ml, mr, mc, msc) AS (
      SELECT 0, w,
             list_transform(generate_series(1, length(w)),
               i -> CASE WHEN i = 1 THEN w[i] ELSE '##' || w[i] END),
             c, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT, NULL::DOUBLE
      FROM wc
      UNION ALL
      SELECT t.rank + 1, t.w,
             (SELECT list_filter(
                       list_transform(generate_series(1, len(t.syms)),
                         p -> CASE WHEN list_contains(k.kept, p)
                                   THEN t.syms[p] || substr(t.syms[p+1], 3)
                                   WHEN list_contains(k.kept, p - 1)
                                   THEN NULL
                                   ELSE t.syms[p] END),
                       x -> x IS NOT NULL)
              FROM (SELECT list_filter(m.marked,
                             p -> ((p - 1 - list_max(
                                     list_filter(n.nm, q -> q <= p - 1)))
                                   % 2) = 0)
                             AS kept
                    FROM (SELECT list_filter(
                             list_transform(
                               generate_series(1, len(t.syms) - 1),
                               p -> CASE WHEN t.syms[p] = best.l
                                          AND t.syms[p+1] = best.r
                                    THEN p ELSE NULL END),
                             x -> x IS NOT NULL) AS marked) m,
                         (SELECT [0] || list_filter(
                             generate_series(1, len(t.syms) - 1),
                             q -> NOT (t.syms[q] = best.l
                                       AND t.syms[q+1] = best.r)) AS nm) n
                   ) k),
             t.c, best.l, best.r, best.pc, best.sc
      FROM t CROSS JOIN (
        SELECT p.l, p.r, p.pc,
               p.pc::DOUBLE / (sl.c::DOUBLE * sr.c::DOUBLE) AS sc
        FROM (SELECT pl AS l, pr AS r, sum(cc)::BIGINT AS pc
              FROM (SELECT u.syms[g.i] AS pl, u.syms[g.i + 1] AS pr,
                           u.c AS cc
                    FROM t u,
                         unnest(generate_series(1, len(u.syms) - 1)) AS g(i))
              GROUP BY pl, pr HAVING sum(cc) >= 2) p
        JOIN (SELECT s, sum(cc)::BIGINT AS c
              FROM (SELECT unnest(u2.syms) AS s, u2.c AS cc FROM t u2)
              GROUP BY s) sl ON sl.s = p.l
        JOIN (SELECT s, sum(cc)::BIGINT AS c
              FROM (SELECT unnest(u3.syms) AS s, u3.c AS cc FROM t u3)
              GROUP BY s) sr ON sr.s = p.r
        ORDER BY sc DESC, p.l, p.r LIMIT 1
      ) best
      WHERE t.rank < 24
    )
  """

  /** CTE chain replaying [[graft.operators.TextRank.keywords]] (window
    * 2, minCount 5, minLen 3, 3 PageRank rounds, top 100): candidate
    * tokens → kept vocabulary → lead()-window co-occurrence edges →
    * three unrolled dangling-aware PageRank rounds (the
    * pipeline_pagerank_dangling arithmetic verbatim — decimal-routed
    * per-node sums, the dangling scalar re-entering along 1/N, the
    * (1.0 − 0.85) literal spelling) → top-100 ranking on UNROUNDED pr.
    * Word ids are the engine's 56-bit md5-prefix spelling.
    */
  private val textRankCtes = {
    val rounds = (1 to 3).map(i => s"""
    tpc$i AS (SELECT u.dst AS id,
                     sum((p.pr / d.deg)::DECIMAL(38,20))::DOUBLE AS s
              FROM tund u
              JOIN tpr${i - 1} p ON p.id = u.src
              JOIN tdg d ON d.id = u.src
              GROUP BY u.dst),
    tdm$i AS (SELECT coalesce(sum(p.pr::DECIMAL(38,20))::DOUBLE,
                              0.0::DOUBLE) AS dm
              FROM tpr${i - 1} p
              WHERE p.id NOT IN (SELECT src FROM tund)),
    tpr$i AS MATERIALIZED (SELECT tn.id,
                     ((1.0 - 0.85) / nn.n
                       + 0.85 * (coalesce(c.s, 0.0::DOUBLE)
                                 + dm.dm * (1.0 / nn.n))) AS pr
              FROM tn CROSS JOIN nn CROSS JOIN tdm$i dm
              LEFT JOIN tpc$i c ON c.id = tn.id)""").mkString(",")
    s"""
    ttk AS (SELECT doc_id, g.i AS pos, tl[g.i] AS w
            FROM (SELECT doc_id, string_split(text, ' ') AS tl
                  FROM documents),
                 unnest(generate_series(1, len(tl))) AS g(i)
            WHERE tl[g.i] <> '' AND length(tl[g.i]) >= 3),
    tv AS MATERIALIZED (SELECT w FROM ttk GROUP BY w HAVING count(*) >= 5),
    tk AS MATERIALIZED (SELECT t.doc_id, t.pos, t.w
                        FROM ttk t JOIN tv USING (w)),
    te AS (SELECT DISTINCT ('0x' || substr(md5(a), 1, 14))::BIGINT AS src,
                           ('0x' || substr(md5(b), 1, 14))::BIGINT AS dst
           FROM (SELECT w AS a, lead(w, 1) OVER
                          (PARTITION BY doc_id ORDER BY pos) AS b FROM tk
                 UNION ALL
                 SELECT w AS a, lead(w, 2) OVER
                          (PARTITION BY doc_id ORDER BY pos) AS b FROM tk)
           WHERE b IS NOT NULL AND a <> b),
    tn AS MATERIALIZED (
      SELECT ('0x' || substr(md5(w), 1, 14))::BIGINT AS id, w FROM tv),
    nn AS (SELECT count(*) AS n FROM tn),
    tund AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT src, dst FROM te UNION ALL SELECT dst, src FROM te)),
    tdg AS MATERIALIZED (SELECT src AS id, count(*) AS deg
                         FROM tund GROUP BY src),
    tpr0 AS (SELECT id, 1.0 / nn.n AS pr FROM tn CROSS JOIN nn),
    $rounds,
    tkw AS MATERIALIZED (
      SELECT rank, word, pr FROM (
        SELECT row_number() OVER (ORDER BY p.pr DESC, tn.w) AS rank,
               tn.w AS word, round(p.pr, 6) AS pr
        FROM tpr3 p JOIN tn ON tn.id = p.id)
      WHERE rank <= 100)
  """
  }

  /** The dedup_clusters oracle: 64-bit simhash pairs (4×16-bit bands,
    * hamming ≤ 3) + a recursive transitive closure mapping every doc to
    * its min reachable id. Shared verbatim by dedup_clusters (local
    * union-find path) and dedup_clusters_distributed (forced distributed
    * min-label loop) — one ground truth, two execution paths.
    */
  private val simhashClustersOracle = """
        WITH RECURSIVE
        w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents),
        h AS (SELECT doc_id,
                     ((CASE WHEN xh >= 2147483648 THEN xh - 4294967296
                            ELSE xh END) * 4294967296 + xl)::BIGINT AS x
              FROM (SELECT doc_id,
                           ('0x' || substr(md5(w), 1, 8))::BIGINT AS xh,
                           ('0x' || substr(md5(w), 9, 8))::BIGINT AS xl
                    FROM w)),
        s AS (SELECT doc_id, b,
                     sum(CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
              GROUP BY doc_id, b),
        sig AS (SELECT doc_id,
                       sum(CASE WHEN s >= 0 THEN
                     CASE WHEN b = 63 THEN -9223372036854775807 - 1
                          ELSE 1::BIGINT << b END ELSE 0 END)::BIGINT
                         AS simhash
                FROM s GROUP BY doc_id),
        sig2 AS (SELECT doc_id, simhash,
                        simhash & 65535 AS b0,
                        (simhash >> 16) & 65535 AS b1,
                        (simhash >> 32) & 65535 AS b2,
                        (simhash >> 48) & 65535 AS b3
                 FROM sig),
        cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.simhash AS sa, b.simhash AS sb
                 FROM sig2 a JOIN sig2 b
                   ON a.b0 = b.b0 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b1 = b.b1 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b2 = b.b2 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b3 = b.b3 AND a.doc_id < b.doc_id),
        pr AS (SELECT doc_a, doc_b FROM cand
               WHERE bit_count(xor(sa, sb)) <= 3),
        ed AS (SELECT doc_a AS a, doc_b AS b FROM pr
               UNION SELECT doc_b, doc_a FROM pr),
        reach(id, r) AS (
          SELECT a, a FROM ed
          UNION
          SELECT ed.a, reach.r FROM ed JOIN reach ON reach.id = ed.b),
        comps AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
        SELECT d.doc_id, coalesce(c.rep, d.doc_id)::BIGINT AS rep_id
        FROM documents d LEFT JOIN comps c ON c.id = d.doc_id
  """

  private val jaccardTail = """
    SELECT doc_a, doc_b,
           round(c::DOUBLE / (na + nb - c), 6) AS jaccard
    FROM (SELECT doc_a, doc_b, c, sa.nsh AS na, sb.nsh AS nb
          FROM common
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b)
    WHERE c::DOUBLE / (na + nb - c) >= 0.5
  """

  val all: Seq[GQuery] = Seq(
    // Tokenizer fertility audit per language (Rust et al. 2021):
    // chars-per-token and tokens-per-word off the BPE-ish pretokenizer —
    // the multilingual sequence-length-cost health check. Integer sums
    // (exact, order-free) + one small groupBy(lang).
    GQuery(
      "text_fertility",
      (spark, dir) =>
        TextAnalysis.tokenizerFertility(
          t(spark, dir, "documents"), "text", "lang"),
      Some(s"""
        WITH pt AS (SELECT lang, length(text)::BIGINT AS chars,
                           len(regexp_extract_all(text,
                             '${TextAnalysis.BpeTokenPattern}'))::BIGINT
                             AS toks,
                           len(list_filter(string_split(text, ' '),
                             w -> w != ''))::BIGINT AS words
                    FROM documents)
        SELECT lang, count(*) AS docs, sum(toks)::BIGINT AS n_tokens,
               round(sum(chars)::DOUBLE / nullif(sum(toks), 0), 6)
                 AS chars_per_token,
               round(sum(toks)::DOUBLE / nullif(sum(words), 0), 6)
                 AS fertility
        FROM pt GROUP BY lang
      """)
    ),
    // Term-blocklist filter (the C4 §2.2 "bad words" / UT1-blocklist
    // pass): per doc, blocklisted-term occurrences + the keep decision.
    // The blocklist fixture is derived deterministically from the corpus
    // vocabulary (every term whose md5 coin % 23 == 0, ~4% of types —
    // the pagedDocs fixture-derivation precedent), mirrored term for
    // term in the oracle; the operator takes ANY external term table.
    // Dictionary-JOIN shape: per-(doc, token) counts equi-join the
    // broadcast term table — one scan + one per-doc aggregate, terms
    // never scanned per doc.
    GQuery(
      "text_blocklist",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val blk = docs
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .select(lower(col("tok")).as("term")).distinct()
          .filter(Dedup.md5Long(concat(col("term"), lit(":blk"))) % 23 === 0)
        TextAnalysis
          .blocklistStats(docs, "doc_id", "text", blk, maxHitFrac = 0.05)
      },
      Some("""
        WITH tk AS MATERIALIZED (
          SELECT doc_id, lower(w) AS tok FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), w -> w != ''))
                     AS w
            FROM documents)),
        blk AS MATERIALIZED (
          SELECT DISTINCT tok FROM tk
          WHERE ('0x' || substr(md5(tok || ':blk'), 1, 14))::BIGINT % 23 = 0),
        tot AS (SELECT doc_id, count(*) AS n_tokens FROM tk GROUP BY 1),
        h AS (SELECT t.doc_id, count(*) AS n_hits,
                     count(DISTINCT t.tok) AS n_terms
              FROM tk t JOIN blk b ON b.tok = t.tok GROUP BY 1)
        SELECT tot.doc_id, tot.n_tokens,
               coalesce(h.n_hits, 0) AS n_hits,
               coalesce(h.n_terms, 0) AS n_terms,
               round(coalesce(h.n_hits, 0)::DOUBLE / tot.n_tokens, 6)
                 AS hit_frac,
               coalesce(h.n_hits, 0)::DOUBLE / tot.n_tokens <= 0.05 AS keep
        FROM tot LEFT JOIN h ON h.doc_id = tot.doc_id
      """)
    ),
    // Gopher quality rules (Rae et al. 2021 §A1.1.2): the MassiveText
    // document-level heuristic stack — word-count bounds, mean-word-length
    // band, symbol ratios, bullet/ellipsis line fractions, alphabetic-word
    // fraction, >=2 distinct stopwords. Pure per-row arithmetic, streams
    // at scan speed (the third published filter stack next to C4 and
    // FineWeb).
    GQuery(
      "text_gopher_filters",
      (spark, dir) =>
        TextAnalysis.gopherStats(t(spark, dir, "documents"), "doc_id", "text"),
      Some(s"""
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> w != '') AS ws,
                 string_split(text, chr(10)) AS ls,
                 (length(text) - length(replace(text, '#', '')))::BIGINT
                   AS hashes,
                 ((length(text) - length(replace(text, '...', ''))) / 3)::BIGINT
                   AS ellipses
          FROM documents),
        cen AS (
          SELECT doc_id, len(ws)::BIGINT AS n_words,
                 list_sum(list_transform(ws, w -> length(w)))::BIGINT AS wchars,
                 hashes, ellipses, len(ls)::BIGINT AS n_lines,
                 len(list_filter(ls, l -> regexp_matches(l, '^[-*•]')))::BIGINT
                   AS bullet_lines,
                 len(list_filter(ls, l -> regexp_matches(l, '\\.{3}$$')))::BIGINT
                   AS ellipsis_lines,
                 len(list_filter(ws, l -> regexp_matches(l, '[A-Za-z]')))::BIGINT
                   AS alpha_words,
                 len(list_filter(['the','be','to','of','and','that','have','with'],
                   s -> list_contains(list_transform(ws, w -> lower(w)), s)))::BIGINT
                   AS n_stop
          FROM base)
        SELECT doc_id, n_words,
               round(wchars::DOUBLE / nullif(n_words, 0), 6) AS mean_word_len,
               round(greatest(hashes::DOUBLE / nullif(n_words, 0),
                              ellipses::DOUBLE / nullif(n_words, 0)), 6)
                 AS symbol_ratio,
               round(bullet_lines::DOUBLE / nullif(n_lines, 0), 6)
                 AS bullet_frac,
               round(ellipsis_lines::DOUBLE / nullif(n_lines, 0), 6)
                 AS ellipsis_frac,
               round(alpha_words::DOUBLE / nullif(n_words, 0), 6)
                 AS alpha_frac,
               n_stop,
               (n_words BETWEEN 50 AND 100000
                AND (wchars::DOUBLE / nullif(n_words, 0)) BETWEEN 3.0 AND 10.0
                AND (hashes::DOUBLE / nullif(n_words, 0)) <= 0.1
                AND (ellipses::DOUBLE / nullif(n_words, 0)) <= 0.1
                AND (bullet_lines::DOUBLE / nullif(n_lines, 0)) <= 0.9
                AND (ellipsis_lines::DOUBLE / nullif(n_lines, 0)) <= 0.3
                AND (alpha_words::DOUBLE / nullif(n_words, 0)) >= 0.8
                AND n_stop >= 2) AS keep
        FROM cen
      """)
    ),
    // Dataset card (the per-slice release report every corpus publishes):
    // one row per (lang, source) with docs, BPE-ish token mass, summed
    // quality (in millionths — the card is ALL-INTEGER: exact numerators
    // + the docs denominator, so no double-rounding boundary can ever
    // flake the hash; consumers divide), exact-dup doc count, and Gopher
    // keep count — four of the engine's census stages composed in ONE
    // declarative plan (quality, gopher, tokenizer, exact-dup hash
    // counts all equi-join on doc_id; the group table is tiny). The
    // whole card replays in SQL.
    GQuery(
      "pipeline_dataset_card",
      (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val docs = t(spark, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
        val q = TextAnalysis.qualityScore(docs, "doc_id", "text")
        val g = TextAnalysis.gopherStats(docs, "doc_id", "text")
          .select(col("doc_id"), coalesce(col("keep"), lit(false)).as("gkeep"))
        val tok = docs.select(
          col("doc_id"),
          size(regexp_extract_all(col("text"),
            lit(s"(${TextAnalysis.BpeTokenPattern})"), lit(1)))
            .cast("long").as("toks"))
        val hc = docs.groupBy(md5(col("text")).as("h"))
          .agg(count(lit(1)).as("hn"))
        val dup = docs.select(col("doc_id"), md5(col("text")).as("h"))
          .join(hc, "h")
          .select(col("doc_id"), (col("hn") > 1).cast("int").as("isdup"))
        docs.select(col("doc_id"), col("lang"), col("source"))
          .join(q, "doc_id").join(g, "doc_id")
          .join(tok, "doc_id").join(dup, "doc_id")
          .groupBy(col("lang"), col("source"))
          .agg(
            count(lit(1)).as("docs"),
            sum(col("toks")).as("n_tokens"),
            sum((col("quality").cast(DecimalType(18, 6)) * lit(1000000))
              .cast("long")).as("quality_sum_e6"),
            sum(col("isdup").cast("long")).as("dup_docs"),
            sum(col("gkeep").cast("int").cast("long")).as("gopher_kept"))
      },
      Some(s"""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        f AS (SELECT doc_id,
                     len(t)::DOUBLE AS n,
                     len(list_filter(t, x -> x IN
                       ('the','a','of','to','and','in','is','for')))::DOUBLE
                       / len(t) AS stop_ratio,
                     len(list_distinct(t))::DOUBLE / len(t) AS diversity
              FROM tok),
        q AS (SELECT doc_id,
                     round(0.4::DOUBLE * least(1.0::DOUBLE, n / 50.0::DOUBLE)
                           + 0.3::DOUBLE * stop_ratio
                           + 0.3::DOUBLE * diversity, 6) AS quality
              FROM f),
        gbase AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> w != '') AS ws,
                 string_split(text, chr(10)) AS ls,
                 (length(text) - length(replace(text, '#', '')))::BIGINT
                   AS hashes,
                 ((length(text) - length(replace(text, '...', ''))) / 3)::BIGINT
                   AS ellipses
          FROM documents),
        gk AS (
          SELECT doc_id,
                 coalesce(
                   len(ws) BETWEEN 50 AND 100000
                   AND (list_sum(list_transform(ws, w -> length(w)))::DOUBLE
                        / nullif(len(ws), 0)) BETWEEN 3.0 AND 10.0
                   AND (hashes::DOUBLE / nullif(len(ws), 0)) <= 0.1
                   AND (ellipses::DOUBLE / nullif(len(ws), 0)) <= 0.1
                   AND (len(list_filter(ls, l -> regexp_matches(l, '^[-*•]')))::DOUBLE
                        / nullif(len(ls), 0)) <= 0.9
                   AND (len(list_filter(ls, l -> regexp_matches(l, '\\.{3}$$')))::DOUBLE
                        / nullif(len(ls), 0)) <= 0.3
                   AND (len(list_filter(ws, l -> regexp_matches(l, '[A-Za-z]')))::DOUBLE
                        / nullif(len(ws), 0)) >= 0.8
                   AND len(list_filter(
                         ['the','be','to','of','and','that','have','with'],
                         s -> list_contains(list_transform(ws, w -> lower(w)), s)
                       )) >= 2,
                   false) AS gkeep
          FROM gbase),
        tk AS (SELECT doc_id,
                      len(regexp_extract_all(text,
                        '${TextAnalysis.BpeTokenPattern}'))::BIGINT AS toks
               FROM documents),
        hc AS (SELECT md5(text) AS h, count(*) AS hn
               FROM documents GROUP BY md5(text)),
        dup AS (SELECT d.doc_id, CASE WHEN hc.hn > 1 THEN 1 ELSE 0 END AS isdup
                FROM documents d JOIN hc ON hc.h = md5(d.text))
        SELECT d.lang, d.source, count(*) AS docs,
               sum(tk.toks)::BIGINT AS n_tokens,
               sum(((q.quality::DECIMAL(18,6)) * 1000000)::BIGINT)::BIGINT
                 AS quality_sum_e6,
               sum(dup.isdup)::BIGINT AS dup_docs,
               sum(CASE WHEN gk.gkeep THEN 1 ELSE 0 END)::BIGINT
                 AS gopher_kept
        FROM documents d
        JOIN q ON q.doc_id = d.doc_id
        JOIN gk ON gk.doc_id = d.doc_id
        JOIN tk ON tk.doc_id = d.doc_id
        JOIN dup ON dup.doc_id = d.doc_id
        GROUP BY d.lang, d.source
      """)
    ),
    // Exact dedup: full-content hash groups with canonical (min) id.
    GQuery(
      "dedup_exact",
      (spark, dir) =>
        Dedup.exact(t(spark, dir, "documents"), "doc_id", "text"),
      Some("""
        SELECT md5(text) AS h, min(doc_id)::BIGINT AS canonical_id,
               count(*)::BIGINT AS group_n
        FROM documents GROUP BY md5(text)
      """)
    ),
    // n-gram Jaccard near-dup pairs (inverted-index blocked self-join).
    GQuery(
      "dedup_jaccard",
      (spark, dir) =>
        Dedup
          .jaccardPairs(t(spark, dir, "documents"), "doc_id", "text", 3, 0.5)
          .select(
            col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard")
          ),
      Some(s"""
        WITH $shingleCtes,
        common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                   FROM sh a JOIN sh b
                     ON a.sh = b.sh AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
        $jaccardTail
      """)
    ),
    // The SAME pairs through PPJoin prefix filtering (Xiao et al., WWW
    // 2008): shingles ordered by global rarity, only the first
    // |d| − ⌈τ·|d|⌉ + 1 indexed, plus the τ·|larger| ≤ |smaller| length
    // filter — candidates shrink by the paper's completeness theorem
    // while the full-set verify keeps every score exact, so the ORACLE
    // IS dedup_jaccard's: one ground truth, two candidate generators
    // (the spec additionally gates >4× candidate pruning on a
    // boilerplate corpus). The 100-TB lever for exact corpus Jaccard:
    // prefix postings concentrate on low-df shingles, collapsing the
    // C(df, 2) fan-out exactly where it is biggest.
    GQuery(
      "dedup_jaccard_prefix",
      (spark, dir) =>
        Dedup
          .jaccardPairsPrefix(t(spark, dir, "documents"), "doc_id", "text",
            3, 0.5)
          .select(
            col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard")
          ),
      Some(s"""
        WITH $shingleCtes,
        common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                   FROM sh a JOIN sh b
                     ON a.sh = b.sh AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
        $jaccardTail
      """)
    ),
    // Sorted-neighborhood (SNM) near-dup pairs — the third blocking
    // family next to the inverted index (dedup_jaccard) and LSH
    // (dedup_minhash_lsh): ONE global sort by a cheap canonical key
    // (24-char collapsed-lowercase prefix), candidates = pairs within 8
    // sort positions, exact-Jaccard verify. Candidate volume is n·7 —
    // linear in the corpus, no collision-driven tail — at the price of
    // prefix-local recall (docs differing in their opening line never
    // pair; the standard SNM trade, stated in the scaladoc). The rank is
    // distributedRank (range partitions, never a global window) and the
    // windowed self-join is a rank-bucket equi-join with fixed 2×
    // replication, so every pair meets in exactly one task. The space
    // collapse is a literal ' +' regex on both engines (Java \s and RE2
    // \s disagree on \x0B).
    GQuery(
      "dedup_snm",
      (spark, dir) =>
        Dedup
          .snmPairs(
            t(spark, dir, "documents"), "doc_id", "text",
            window = 8, n = 3, tau = 0.3)
          .select(
            col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard")
          ),
      Some(s"""
        WITH ky AS (SELECT doc_id,
                           substr(regexp_replace(lower(text), ' +', ' ', 'g'),
                                  1, 24) AS k
                    FROM documents),
        rk AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) - 1 AS r
               FROM ky),
        cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                        greatest(a.doc_id, b.doc_id) AS doc_b
                 FROM rk a JOIN rk b ON b.r > a.r AND b.r < a.r + 8),
        $shingleCtes,
        common AS (SELECT cd.doc_a, cd.doc_b, count(*) AS c
                   FROM cand cd
                   JOIN sh sa ON sa.doc_id = cd.doc_a
                   JOIN sh sb ON sb.doc_id = cd.doc_b AND sb.sh = sa.sh
                   GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(c::DOUBLE / (na + nb - c), 6) AS jaccard
        FROM (SELECT doc_a, doc_b, c, sa.nsh AS na, sb.nsh AS nb
              FROM common
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b)
        WHERE c::DOUBLE / (na + nb - c) >= 0.3
      """)
    ),
    // Directional containment dedup — |sub∩sup|/|sub| catches the
    // asymmetric near-dup (a snippet lifted into a longer doc: J ≈
    // |sub|/|sup| but C = 1; Broder's resemblance-vs-containment split).
    // The corpus is derived so the case actually exists: every 20th doc
    // contributes a prefix-snippet pseudo-doc (id + 10^9 — far above any
    // test-table doc_id at any scale factor, so snippet ids can never
    // collide with real ones — first 40% of tokens) whose shingles are a
    // strict subset of its source's; both engines derive it identically. Same blocked inverted-index join as
    // dedup_jaccard; the intersection is counted once, emitted per
    // direction with that direction's denominator.
    GQuery(
      "dedup_containment",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
        val snippets = toks
          .filter(col("doc_id") % 20 === 0)
          .select(
            (col("doc_id") + 1000000000L).as("doc_id"),
            array_join(
              slice(col("t"), lit(1), expr("greatest(3, (size(t)*2) div 5)")),
              " "
            ).as("text")
          )
        val corpus = docs.select(col("doc_id"), col("text")).unionAll(snippets)
        // prefix-filtered path (r14): bit-identical to the plain postings
        // self-join (DedupTextSpec pins equality) but candidate-bounded —
        // the plain join's Σdf² fan-out measured exponent ~1.5 with 16 GB
        // spill on the duplication-heavy second-decade sweep
        Dedup
          .containmentPairsPrefix(corpus, "doc_id", "text", n = 3, tau = 0.9)
          .select(
            col("doc_sub"), col("doc_sup"),
            round(col("containment"), 6).as("containment")
          )
      },
      Some("""
        WITH tok0 AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents),
        corpus AS (SELECT doc_id, text FROM documents
                   UNION ALL
                   SELECT doc_id + 1000000000 AS doc_id,
                          array_to_string(t[1:greatest(3, len(t)*2//5)], ' ')
                            AS text
                   FROM tok0 WHERE doc_id % 20 = 0),
        tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        sh AS (SELECT DISTINCT doc_id,
                      unnest(CASE WHEN len(t) >= 3
                             THEN list_transform(generate_series(1, len(t)-2),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                             ELSE []::VARCHAR[] END) AS sh
               FROM tok),
        sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
        common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                   FROM sh a JOIN sh b
                     ON a.sh = b.sh AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
        dir AS (SELECT doc_a AS doc_sub, doc_b AS doc_sup, c FROM common
                UNION ALL
                SELECT doc_b AS doc_sub, doc_a AS doc_sup, c FROM common)
        SELECT doc_sub, doc_sup, round(c::DOUBLE / nsh, 6) AS containment
        FROM dir JOIN sizes ON sizes.doc_id = doc_sub
        WHERE c::DOUBLE / nsh >= 0.9
      """)
    ),
    // Exact duplicated-span detection (ExactSubstr, Lee et al. 2022):
    // length-40 char windows occurring in >=2 distinct docs, merged per
    // doc into maximal spans — finds the copied PASSAGE inside
    // otherwise-distinct documents, which doc-level dedup cannot. Both
    // engines hash windows with md5 and run the identical
    // gaps-and-islands merge, so the span table is hash-checked exactly.
    GQuery(
      "dedup_substring",
      (spark, dir) =>
        Dedup.duplicatedSpans(
          t(spark, dir, "documents"), "doc_id", "text", w = 40, minDocs = 2),
      Some("""
        WITH w AS (SELECT doc_id,
                          unnest(generate_series(1,
                            greatest(length(text)-39, 0)))::BIGINT AS i,
                          text
                   FROM documents),
        wh AS (SELECT doc_id, i,
                      ('0x' || substr(md5(substr(text, i::INT, 40)),
                        1, 14))::BIGINT AS h
               FROM w),
        dh AS (SELECT h FROM wh GROUP BY h
               HAVING count(DISTINCT doc_id) >= 2),
        p AS (SELECT wh.doc_id, wh.i AS s, wh.i + 39 AS e
              FROM wh JOIN dh USING (h)),
        m AS (SELECT doc_id, s, e,
                     max(e) OVER (PARTITION BY doc_id ORDER BY s
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS pmax
              FROM p),
        isl AS (SELECT doc_id, s, e,
                       sum(CASE WHEN pmax IS NULL OR s > pmax + 1
                           THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY s) AS g
                FROM m)
        SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
               max(e) - min(s) + 1 AS span_len, count(*)::BIGINT AS n_windows
        FROM isl GROUP BY doc_id, g
      """)
    ),
    // MinHash + LSH: 16 permutations, 4 bands of 4, bucket-join candidates,
    // exact-Jaccard verify at 0.5.
    GQuery(
      "dedup_minhash_lsh",
      (spark, dir) =>
        Dedup
          .minhashLsh(
            t(spark, dir, "documents"), "doc_id", "text",
            n = 3, numPerms = 16, bands = 4, tau = 0.5
          )
          .select(
            col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard")
          ),
      Some(s"""
        WITH $shingleCtes,
        mh AS (SELECT doc_id, i,
                      min(((2*i+1) * x + 12289*i) % 1000000007) AS v
               FROM (SELECT doc_id,
                            ('0x' || substr(md5(sh), 1, 14))::BIGINT
                              % 1000000007 AS x
                     FROM sh)
               CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i)
               GROUP BY doc_id, i),
        bands AS (SELECT doc_id, i // 4 AS band,
                         string_agg(v::VARCHAR, ',' ORDER BY i) AS sig
                  FROM mh GROUP BY doc_id, i // 4),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.sig = b.sig
                      AND a.doc_id < b.doc_id),
        common AS (SELECT doc_a, doc_b, count(*) AS c
                   FROM cand
                   JOIN sh sa ON sa.doc_id = doc_a
                   JOIN sh sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
                   GROUP BY 1, 2)
        $jaccardTail
      """)
    ),
    // SimHash signatures per document (64-bit, token-hash sign sums).
    GQuery(
      "dedup_simhash",
      (spark, dir) =>
        Dedup.simhash(t(spark, dir, "documents"), "doc_id", "text"),
      Some("""
        WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                   FROM documents),
        h AS (SELECT doc_id,
                     ((CASE WHEN xh >= 2147483648 THEN xh - 4294967296
                            ELSE xh END) * 4294967296 + xl)::BIGINT AS x
              FROM (SELECT doc_id,
                           ('0x' || substr(md5(w), 1, 8))::BIGINT AS xh,
                           ('0x' || substr(md5(w), 9, 8))::BIGINT AS xl
                    FROM w)),
        s AS (SELECT doc_id, b,
                     sum(CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
              GROUP BY doc_id, b)
        SELECT doc_id,
               sum(CASE WHEN s >= 0 THEN
                     CASE WHEN b = 63 THEN -9223372036854775807 - 1
                          ELSE 1::BIGINT << b END ELSE 0 END)::BIGINT
                 AS simhash
        FROM s GROUP BY doc_id
      """)
    ),
    // SimHash near-dup pairs: 4x16-bit band blocking over the 64-bit
    // signature (candidate-complete at hamming <= 3 by pigeonhole).
    GQuery(
      "dedup_simhash_pairs",
      (spark, dir) =>
        Dedup.simhashPairs(
          t(spark, dir, "documents"), "doc_id", "text", maxHamming = 3
        ),
      Some("""
        WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                   FROM documents),
        h AS (SELECT doc_id,
                     ((CASE WHEN xh >= 2147483648 THEN xh - 4294967296
                            ELSE xh END) * 4294967296 + xl)::BIGINT AS x
              FROM (SELECT doc_id,
                           ('0x' || substr(md5(w), 1, 8))::BIGINT AS xh,
                           ('0x' || substr(md5(w), 9, 8))::BIGINT AS xl
                    FROM w)),
        s AS (SELECT doc_id, b,
                     sum(CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
              GROUP BY doc_id, b),
        sig AS (SELECT doc_id,
                       sum(CASE WHEN s >= 0 THEN
                     CASE WHEN b = 63 THEN -9223372036854775807 - 1
                          ELSE 1::BIGINT << b END ELSE 0 END)::BIGINT
                         AS simhash
                FROM s GROUP BY doc_id),
        sig2 AS (SELECT doc_id, simhash,
                        simhash & 65535 AS b0,
                        (simhash >> 16) & 65535 AS b1,
                        (simhash >> 32) & 65535 AS b2,
                        (simhash >> 48) & 65535 AS b3
                 FROM sig),
        cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.simhash AS sa, b.simhash AS sb
                 FROM sig2 a JOIN sig2 b
                   ON a.b0 = b.b0 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b1 = b.b1 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b2 = b.b2 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b3 = b.b3 AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, bit_count(xor(sa, sb))::BIGINT AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= 3
      """)
    ),
    // Edit-distance near-dup pairs: simhash band candidates (hamming <= 1,
    // where the four 16-bit bands are COMPLETE up to hamming 3 by
    // pigeonhole — so a fortiori at 1; recall w.r.t. pure edit distance
    // stays blocking-dependent)
    // verified by the REAL Levenshtein DP — the character-level notion of
    // "same doc up to typos/OCR noise" that token-set measures miss. The
    // O(len²) DP runs only on blocked candidates; both engines' builtin
    // levenshtein implements the same unit-cost DP, so the verify is
    // hash-checked end to end.
    GQuery(
      "dedup_edit_pairs",
      (spark, dir) =>
        Dedup.editDistancePairs(
          t(spark, dir, "documents"), "doc_id", "text",
          maxHamming = 1, maxEditFrac = 0.25),
      Some("""
        WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                   FROM documents),
        h AS (SELECT doc_id,
                     ((CASE WHEN xh >= 2147483648 THEN xh - 4294967296
                            ELSE xh END) * 4294967296 + xl)::BIGINT AS x
              FROM (SELECT doc_id,
                           ('0x' || substr(md5(w), 1, 8))::BIGINT AS xh,
                           ('0x' || substr(md5(w), 9, 8))::BIGINT AS xl
                    FROM w)),
        s AS (SELECT doc_id, b,
                     sum(CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
              GROUP BY doc_id, b),
        sig AS (SELECT doc_id,
                       sum(CASE WHEN s >= 0 THEN
                     CASE WHEN b = 63 THEN -9223372036854775807 - 1
                          ELSE 1::BIGINT << b END ELSE 0 END)::BIGINT
                         AS simhash
                FROM s GROUP BY doc_id),
        sig2 AS (SELECT doc_id, simhash,
                        simhash & 65535 AS b0,
                        (simhash >> 16) & 65535 AS b1,
                        (simhash >> 32) & 65535 AS b2,
                        (simhash >> 48) & 65535 AS b3
                 FROM sig),
        cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.simhash AS sa, b.simhash AS sb
                 FROM sig2 a JOIN sig2 b
                   ON a.b0 = b.b0 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b1 = b.b1 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b2 = b.b2 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b3 = b.b3 AND a.doc_id < b.doc_id),
        pr AS (SELECT doc_a, doc_b FROM cand
               WHERE bit_count(xor(sa, sb)) <= 1),
        ed AS (SELECT pr.doc_a, pr.doc_b,
                      levenshtein(a.text, b.text) AS ed,
                      greatest(length(a.text), length(b.text)) AS ml
               FROM pr JOIN documents a ON a.doc_id = pr.doc_a
                       JOIN documents b ON b.doc_id = pr.doc_b
               WHERE abs(length(a.text) - length(b.text))
                     <= 0.25 * greatest(length(a.text), length(b.text)))
        SELECT doc_a, doc_b, ed::BIGINT AS edit_distance
        FROM ed WHERE ed <= 0.25 * ml
      """)
    ),
    // Dedup clustering: connected components over the simhash near-dup
    // pair graph -> every document mapped to its canonical representative
    // (min reachable doc_id; singletons map to themselves). The stage a
    // training-data pipeline runs after pair generation to actually DROP
    // duplicates. Oracle: the same pair CTEs + a recursive transitive
    // closure (cluster sizes are small, so the closure is cheap in SQL).
    GQuery(
      "dedup_clusters",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
        val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        docs
          .select(col("doc_id"))
          .join(comp, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            coalesce(col("rep_id"), col("doc_id")).as("rep_id")
          )
      },
      Some(simhashClustersOracle)
    ),
    // The SAME clustering forced down the distributed double-pointer-
    // jumping min-label loop (localMaxEdges = 0 disables the driver-local
    // union-find cutover) — the code path a 100-TB pair graph takes. One
    // oracle-checked row per doc proves the distributed loop end to end
    // against the identical recursive-closure oracle; DedupTextSpec
    // asserts via the run counter that this entry point really executes
    // the loop.
    GQuery(
      "dedup_clusters_distributed",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
        val comp = Dedup.connectedComponents(
          pairs, "doc_a", "doc_b", localMaxEdges = 0)
        docs
          .select(col("doc_id"))
          .join(comp, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            coalesce(col("rep_id"), col("doc_id")).as("rep_id")
          )
      },
      Some(simhashClustersOracle)
    ),
    // Dedup REPORT — the cluster-size histogram every production dedup
    // run publishes (how much survives, how big the dup families are):
    // one row per cluster size with cluster and doc counts, singletons
    // included, off the same simhash-cluster table as dedup_clusters.
    // Derivable sanity: Σ n_docs = corpus size; dedup ratio =
    // Σ n_clusters / Σ n_docs. Aggregation-only on top of the cluster
    // artifact — two grouping exchanges, nothing pairwise.
    GQuery(
      "dedup_stats",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
        val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        docs
          .select(col("doc_id"))
          .join(comp, Seq("doc_id"), "left")
          .select(coalesce(col("rep_id"), col("doc_id")).as("rep"))
          .groupBy(col("rep"))
          .agg(count(lit(1)).as("cluster_size"))
          .groupBy(col("cluster_size"))
          .agg(
            count(lit(1)).as("n_clusters"),
            sum(col("cluster_size")).as("n_docs"))
      },
      Some(s"""
        SELECT cluster_size, count(*)::BIGINT AS n_clusters,
               sum(cluster_size)::BIGINT AS n_docs
        FROM (SELECT rep_id, count(*)::BIGINT AS cluster_size
              FROM ( $simhashClustersOracle ) GROUP BY rep_id)
        GROUP BY cluster_size
      """)
    ),
    // Leakage-safe k-FOLD cross-validation assignment — pipeline_split
    // generalized: fold = md5 coin mod 5 on the near-dup cluster
    // representative, so a family of near-duplicates lands wholly in one
    // fold and no held-out slice has a near-twin in any training fold.
    GQuery(
      "pipeline_kfold",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
        val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        Dedup.leakSafeFolds(docs, "doc_id", comp, k = 5)
      },
      Some(s"""
        SELECT doc_id, rep_id,
               (('0x' || substr(md5(rep_id::VARCHAR || ':kfold'), 1, 14))::BIGINT
                 % 5)::BIGINT AS fold
        FROM ( $simhashClustersOracle )
      """)
    ),
    // Leakage-safe holdout split: train/val assignment hashed on the
    // near-dup CLUSTER representative (the dedup_clusters table), so a
    // cluster of near-duplicates lands wholly on one side and no val doc
    // has a train-side near-twin — the contamination a doc-level random
    // split silently creates. Same simhash-cluster CTEs as
    // dedup_clusters, plus the engine's standard md5-coin on the rep id.
    GQuery(
      "pipeline_split",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
        val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        Dedup.leakSafeSplit(docs, "doc_id", comp, trainPct = 90)
      },
      Some("""
        WITH RECURSIVE
        w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents),
        h AS (SELECT doc_id,
                     ((CASE WHEN xh >= 2147483648 THEN xh - 4294967296
                            ELSE xh END) * 4294967296 + xl)::BIGINT AS x
              FROM (SELECT doc_id,
                           ('0x' || substr(md5(w), 1, 8))::BIGINT AS xh,
                           ('0x' || substr(md5(w), 9, 8))::BIGINT AS xl
                    FROM w)),
        s AS (SELECT doc_id, b,
                     sum(CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
              GROUP BY doc_id, b),
        sig AS (SELECT doc_id,
                       sum(CASE WHEN s >= 0 THEN
                     CASE WHEN b = 63 THEN -9223372036854775807 - 1
                          ELSE 1::BIGINT << b END ELSE 0 END)::BIGINT
                         AS simhash
                FROM s GROUP BY doc_id),
        sig2 AS (SELECT doc_id, simhash,
                        simhash & 65535 AS b0,
                        (simhash >> 16) & 65535 AS b1,
                        (simhash >> 32) & 65535 AS b2,
                        (simhash >> 48) & 65535 AS b3
                 FROM sig),
        cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.simhash AS sa, b.simhash AS sb
                 FROM sig2 a JOIN sig2 b
                   ON a.b0 = b.b0 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b1 = b.b1 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b2 = b.b2 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b3 = b.b3 AND a.doc_id < b.doc_id),
        pr AS (SELECT doc_a, doc_b FROM cand
               WHERE bit_count(xor(sa, sb)) <= 3),
        ed AS (SELECT doc_a AS a, doc_b AS b FROM pr
               UNION SELECT doc_b, doc_a FROM pr),
        reach(id, r) AS (
          SELECT a, a FROM ed
          UNION
          SELECT ed.a, reach.r FROM ed JOIN reach ON reach.id = ed.b),
        comps AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
        reps AS (SELECT d.doc_id,
                        coalesce(c.rep, d.doc_id)::BIGINT AS rep_id
                 FROM documents d LEFT JOIN comps c ON c.id = d.doc_id)
        SELECT doc_id, rep_id,
               CASE WHEN ('0x' || substr(md5(rep_id::VARCHAR || ':holdout'),
                           1, 14))::BIGINT % 100 < 90
                    THEN 'train' ELSE 'val' END AS split
        FROM reps
      """)
    ),
    // Embedding-cosine near-dup pairs over embeddings.
    GQuery(
      "dedup_embedding",
      (spark, dir) =>
        Dedup
          .embeddingPairs(
            t(spark, dir, "embeddings").select(
              col("vec_id"),
              graft.functions.VectorFunctions.toDouble(col("embedding")).as("v")
            ),
            "vec_id", "v", tau = 0.45
          )
          .select(
            col("doc_a"), col("doc_b"), round(col("cosine"), 6).as("cosine")
          ),
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        p AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                     ${sqlDot("a.v", "b.v")}
                     / (sqrt(${sqlDot("a.v", "a.v")})
                        * sqrt(${sqlDot("b.v", "b.v")})) AS cosine
              FROM e a JOIN e b ON a.vec_id < b.vec_id)
        SELECT doc_a, doc_b, round(cosine, 6) AS cosine
        FROM p WHERE cosine >= 0.45
      """)
    ),
    // SemDeDup (Abbas et al. 2023): k-means clusters as the blocking
    // structure for semantic dedup — near-dup cosine pairs are searched
    // only WITHIN a cluster, turning the all-pairs scan into k
    // independent (N/k)^2 problems. Fixed centroids (first-8 embeddings,
    // the kmeans_estep tactic) keep the assignment deterministic so the
    // whole pipeline sits under an exact oracle.
    GQuery(
      "dedup_semdedup",
      (spark, dir) => {
        val cents = t(spark, dir, "embeddings")
          .filter(col("vec_id") < 8)
          .orderBy(col("vec_id"))
          .select(graft.functions.VectorFunctions.toDouble(col("embedding")))
          .collect()
          .map(_.getSeq[Double](0).toArray)
        Dedup
          .semDeDup(
            t(spark, dir, "embeddings").select(
              col("vec_id"),
              graft.functions.VectorFunctions.toDouble(col("embedding")).as("v")
            ),
            "vec_id", "v", cents, tau = 0.45
          )
          .select(
            col("cluster"), col("doc_a"), col("doc_b"),
            round(col("cosine"), 6).as("cosine")
          )
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                 FROM embeddings WHERE vec_id < 8),
        d AS (SELECT e.vec_id, cent.ck, ${sqlL2Sq("e.v", "cent.cv")} AS dist
              FROM e CROSS JOIN cent),
        a AS (SELECT vec_id, ck AS cluster FROM (
                SELECT vec_id, ck,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, ck) AS rn
                FROM d) WHERE rn = 1),
        p AS (SELECT aa.cluster, x.vec_id AS doc_a, y.vec_id AS doc_b,
                     ${sqlDot("x.v", "y.v")}
                     / (sqrt(${sqlDot("x.v", "x.v")})
                        * sqrt(${sqlDot("y.v", "y.v")})) AS cosine
              FROM e x JOIN a aa ON aa.vec_id = x.vec_id
              JOIN a bb ON bb.cluster = aa.cluster AND bb.vec_id > x.vec_id
              JOIN e y ON y.vec_id = bb.vec_id)
        SELECT cluster::BIGINT AS cluster, doc_a, doc_b,
               round(cosine, 6) AS cosine
        FROM p WHERE cosine >= 0.45
      """)
    ),
    // SemDeDup with HOT-CLUSTER SALTING exercised end-to-end: target=24
    // forces every ~60-doc cluster to triangle-block into ~3 salts, so
    // this oracle run provably executes the salted join (cluster, pi,
    // pj) — and the oracle is the SAME SQL as dedup_semdedup, because
    // salting is a pure repartitioning move: each pair meets in exactly
    // one triangle task and the cosine kernel is unchanged.
    GQuery(
      "dedup_semdedup_salted",
      (spark, dir) => {
        val cents = t(spark, dir, "embeddings")
          .filter(col("vec_id") < 8)
          .orderBy(col("vec_id"))
          .select(graft.functions.VectorFunctions.toDouble(col("embedding")))
          .collect()
          .map(_.getSeq[Double](0).toArray)
        Dedup
          .semDeDup(
            t(spark, dir, "embeddings").select(
              col("vec_id"),
              graft.functions.VectorFunctions.toDouble(col("embedding")).as("v")
            ),
            "vec_id", "v", cents, tau = 0.45, hotClusterTarget = 24
          )
          .select(
            col("cluster"), col("doc_a"), col("doc_b"),
            round(col("cosine"), 6).as("cosine")
          )
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                 FROM embeddings WHERE vec_id < 8),
        d AS (SELECT e.vec_id, cent.ck, ${sqlL2Sq("e.v", "cent.cv")} AS dist
              FROM e CROSS JOIN cent),
        a AS (SELECT vec_id, ck AS cluster FROM (
                SELECT vec_id, ck,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, ck) AS rn
                FROM d) WHERE rn = 1),
        p AS (SELECT aa.cluster, x.vec_id AS doc_a, y.vec_id AS doc_b,
                     ${sqlDot("x.v", "y.v")}
                     / (sqrt(${sqlDot("x.v", "x.v")})
                        * sqrt(${sqlDot("y.v", "y.v")})) AS cosine
              FROM e x JOIN a aa ON aa.vec_id = x.vec_id
              JOIN a bb ON bb.cluster = aa.cluster AND bb.vec_id > x.vec_id
              JOIN e y ON y.vec_id = bb.vec_id)
        SELECT cluster::BIGINT AS cluster, doc_a, doc_b,
               round(cosine, 6) AS cosine
        FROM p WHERE cosine >= 0.45
      """)
    ),
    // Hyperplane-LSH approximate embedding dedup: the sub-quadratic scale
    // path. The oracle rebuilds the identical md5-seeded hyperplanes in
    // SQL, so the band signatures — and hence the candidate set — are
    // engine-portable and hash-checked end to end.
    GQuery(
      "dedup_embedding_lsh",
      (spark, dir) =>
        Dedup
          .embeddingPairsLsh(
            t(spark, dir, "embeddings").select(
              col("vec_id"),
              graft.functions.VectorFunctions.toDouble(col("embedding")).as("v")
            ),
            "vec_id", "v", tau = 0.45, numPlanes = 16, bands = 4
          )
          .select(
            col("doc_a"), col("doc_b"), round(col("cosine"), 6).as("cosine")
          ),
      Some {
        def bit(k: Int): String =
          s"""CASE WHEN list_sum(list_transform(generate_series(1, len(v)),
             |  i -> v[i] * ((('0x'||substr(md5('${k}_'||(i-1)::VARCHAR),1,14))::BIGINT
             |                % 1000003) / 1000003.0 - 0.5))) >= 0
             |THEN '1' ELSE '0' END""".stripMargin
        val sigDefs = (0 until 4).map { b =>
          (4 * b until 4 * b + 4).map(bit).mkString("(", " || ", s") AS sig$b")
        }.mkString(",\n")
        val bandUnion = (0 until 4)
          .map(b => s"SELECT $b AS band, sig$b AS sig, vec_id FROM s")
          .mkString(" UNION ALL ")
        s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        s AS (SELECT vec_id, $sigDefs FROM e),
        bs AS ($bandUnion),
        cand AS (SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
                 FROM bs a JOIN bs b
                   ON a.band = b.band AND a.sig = b.sig
                      AND a.vec_id < b.vec_id),
        p AS (SELECT doc_a, doc_b,
                     ${sqlDot("ea.v", "eb.v")}
                     / (sqrt(${sqlDot("ea.v", "ea.v")})
                        * sqrt(${sqlDot("eb.v", "eb.v")})) AS cosine
              FROM cand
              JOIN e ea ON ea.vec_id = doc_a
              JOIN e eb ON eb.vec_id = doc_b)
        SELECT doc_a, doc_b, round(cosine, 6) AS cosine
        FROM p WHERE cosine >= 0.45
      """
      }
    ),
    // MULTI-PROBE hyperplane-LSH embedding dedup (Lv et al. 2007): each
    // band also probes its 1-bit-flip neighborhood — the recall extra
    // hash tables would buy, without replicating the index (the scarcer
    // resource at 100 TB). Probe explode is bounded ×(r+1) on the
    // SIGNATURE table, never the corpus; same exact-cosine verify. The
    // oracle rebuilds signatures AND the flip probes in SQL, so the
    // widened candidate set is hash-checked end to end.
    GQuery(
      "dedup_embedding_lsh_mp",
      (spark, dir) =>
        Dedup
          .embeddingPairsLshMultiprobe(
            t(spark, dir, "embeddings").select(
              col("vec_id"),
              graft.functions.VectorFunctions.toDouble(col("embedding")).as("v")
            ),
            "vec_id", "v", tau = 0.45, numPlanes = 16, bands = 4
          )
          .select(
            col("doc_a"), col("doc_b"), round(col("cosine"), 6).as("cosine")
          ),
      Some {
        def bit(k: Int): String =
          s"""CASE WHEN list_sum(list_transform(generate_series(1, len(v)),
             |  i -> v[i] * ((('0x'||substr(md5('${k}_'||(i-1)::VARCHAR),1,14))::BIGINT
             |                % 1000003) / 1000003.0 - 0.5))) >= 0
             |THEN '1' ELSE '0' END""".stripMargin
        val sigDefs = (0 until 4).map { b =>
          (4 * b until 4 * b + 4).map(bit).mkString("(", " || ", s") AS sig$b")
        }.mkString(",\n")
        val bandUnion = (0 until 4)
          .map(b => s"SELECT $b AS band, sig$b AS sig, vec_id FROM s")
          .mkString(" UNION ALL ")
        s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        s AS (SELECT vec_id, $sigDefs FROM e),
        bs AS MATERIALIZED ($bandUnion),
        pr AS (SELECT vec_id, band,
                      unnest(list_append(
                        list_transform(generate_series(1, 4),
                          p -> substr(sig, 1, p-1)
                               || (CASE WHEN substr(sig, p, 1) = '1'
                                   THEN '0' ELSE '1' END)
                               || substr(sig, p+1, 4 - p)),
                        sig)) AS psig
               FROM bs),
        cand AS (SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
                 FROM pr a JOIN bs b
                   ON a.band = b.band AND a.psig = b.sig
                      AND a.vec_id < b.vec_id),
        p AS (SELECT doc_a, doc_b,
                     ${sqlDot("ea.v", "eb.v")}
                     / (sqrt(${sqlDot("ea.v", "ea.v")})
                        * sqrt(${sqlDot("eb.v", "eb.v")})) AS cosine
              FROM cand
              JOIN e ea ON ea.vec_id = doc_a
              JOIN e eb ON eb.vec_id = doc_b)
        SELECT doc_a, doc_b, round(cosine, 6) AS cosine
        FROM p WHERE cosine >= 0.45
      """
      }
    ),
    // Blocking-recall audit of the LSH dedup paths: verified-pair counts
    // of single-probe and multi-probe SRP-LSH against the exact all-pairs
    // ground truth at the same τ — the measurement that turns "LSH recall
    // is blocking-dependent (documented trade)" into a number you can
    // regression-watch. Exact ground truth is the O(N²) oracle run on a
    // bounded audit slice by design: Dedup.auditSample (deterministic
    // md5 coin) bounds that slice at corpus scale; 1.0 here = the whole
    // sf table, keeping this row oracle-checked. The LSH paths are the
    // corpus-scale route being audited.
    GQuery(
      "eval_dedup_blocking",
      (spark, dir) => {
        import spark.implicits._
        val emb = Dedup.auditSample(
          t(spark, dir, "embeddings").select(
            col("vec_id"),
            graft.functions.VectorFunctions.toDouble(col("embedding")).as("v")),
          "vec_id", sample = 1.0)
        // three INDEPENDENT audit jobs (exact truth, single-probe,
        // multi-probe) — submit them concurrently so each job's task
        // tail back-fills the others' idle cores (guide §2.6: actions
        // are only sequential because the driver calls them
        // sequentially); counts of disjoint lineages, so concurrency
        // cannot affect any value
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val exactF = Future(
          Dedup.embeddingPairs(emb, "vec_id", "v", tau = 0.45).count())
        val lshF = Future(Dedup.embeddingPairsLsh(
          emb, "vec_id", "v", tau = 0.45, numPlanes = 16, bands = 4).count())
        val mpF = Future(Dedup.embeddingPairsLshMultiprobe(
          emb, "vec_id", "v", tau = 0.45, numPlanes = 16, bands = 4).count())
        val exactN = Await.result(exactF, Duration.Inf)
        val lshN = Await.result(lshF, Duration.Inf)
        val mpN = Await.result(mpF, Duration.Inf)
        Seq(
          ("lsh", lshN, exactN, lshN.toDouble / exactN),
          ("lsh_mp", mpN, exactN, mpN.toDouble / exactN)
        ).toDF("method", "pairs", "exact_pairs", "recall")
          .select(col("method"), col("pairs"), col("exact_pairs"),
            round(col("recall"), 6).as("recall"))
      },
      Some {
        def bit(k: Int): String =
          s"""CASE WHEN list_sum(list_transform(generate_series(1, len(v)),
             |  i -> v[i] * ((('0x'||substr(md5('${k}_'||(i-1)::VARCHAR),1,14))::BIGINT
             |                % 1000003) / 1000003.0 - 0.5))) >= 0
             |THEN '1' ELSE '0' END""".stripMargin
        val sigDefs = (0 until 4).map { b =>
          (4 * b until 4 * b + 4).map(bit).mkString("(", " || ", s") AS sig$b")
        }.mkString(",\n")
        val bandUnion = (0 until 4)
          .map(b => s"SELECT $b AS band, sig$b AS sig, vec_id FROM s")
          .mkString(" UNION ALL ")
        def verified(cand: String) =
          s"""SELECT doc_a, doc_b FROM (
             SELECT doc_a, doc_b,
                    ${sqlDot("ea.v", "eb.v")}
                    / (sqrt(${sqlDot("ea.v", "ea.v")})
                       * sqrt(${sqlDot("eb.v", "eb.v")})) AS cosine
             FROM $cand
             JOIN e ea ON ea.vec_id = doc_a
             JOIN e eb ON eb.vec_id = doc_b)
             WHERE cosine >= 0.45"""
        s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        xp AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
               FROM e a JOIN e b ON a.vec_id < b.vec_id
               WHERE ${sqlDot("a.v", "b.v")}
                     / (sqrt(${sqlDot("a.v", "a.v")})
                        * sqrt(${sqlDot("b.v", "b.v")})) >= 0.45),
        s AS (SELECT vec_id, $sigDefs FROM e),
        bs AS MATERIALIZED ($bandUnion),
        cand AS (SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
                 FROM bs a JOIN bs b
                   ON a.band = b.band AND a.sig = b.sig
                      AND a.vec_id < b.vec_id),
        pf AS (${verified("cand")}),
        pr AS (SELECT vec_id, band,
                      unnest(list_append(
                        list_transform(generate_series(1, 4),
                          p -> substr(sig, 1, p-1)
                               || (CASE WHEN substr(sig, p, 1) = '1'
                                   THEN '0' ELSE '1' END)
                               || substr(sig, p+1, 4 - p)),
                        sig)) AS psig
               FROM bs),
        cand2 AS (SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
                  FROM pr a JOIN bs b
                    ON a.band = b.band AND a.psig = b.sig
                       AND a.vec_id < b.vec_id),
        pf2 AS (${verified("cand2")}),
        cnts AS (SELECT (SELECT count(*) FROM pf) AS lshn,
                        (SELECT count(*) FROM pf2) AS mpn,
                        (SELECT count(*) FROM xp) AS xn)
        SELECT 'lsh' AS method, lshn AS pairs, xn AS exact_pairs,
               round(lshn::DOUBLE / xn, 6) AS recall FROM cnts
        UNION ALL
        SELECT 'lsh_mp', mpn, xn, round(mpn::DOUBLE / xn, 6) FROM cnts
      """
      }
    ),
    // Per-document token statistics.
    GQuery(
      "text_token_stats",
      (spark, dir) =>
        TextAnalysis.tokenStats(t(spark, dir, "documents"), "doc_id", "text"),
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents)
        SELECT doc_id, len(t)::BIGINT AS n_tokens,
               len(list_distinct(t))::BIGINT AS n_distinct,
               (list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t))
                 AS avg_token_len
        FROM tok
      """)
    ),
    // BPE-ish pretokenizer statistics (GPT-2-flavored pattern, identical
    // Java-regex/RE2 semantics — see TextAnalysis.BpeTokenPattern).
    GQuery(
      "text_bpe_tokens",
      (spark, dir) =>
        TextAnalysis.bpeTokenStats(t(spark, dir, "documents"), "doc_id", "text"),
      Some(s"""
        WITH tk AS (SELECT doc_id,
                           regexp_extract_all(text,
                             '${TextAnalysis.BpeTokenPattern}') AS toks
                    FROM documents)
        SELECT doc_id,
               len(toks)::BIGINT AS n_tokens,
               len(list_filter(toks,
                 t -> regexp_matches(trim(t), '^[A-Za-z]+$$')))::BIGINT
                 AS n_word_tokens,
               len(list_filter(toks,
                 t -> regexp_matches(trim(t), '^[0-9]+$$')))::BIGINT
                 AS n_digit_tokens,
               round(list_sum(list_transform(toks, t -> strlen(t)))::DOUBLE
                       / nullif(len(toks), 0), 6) AS avg_token_len
        FROM tk
      """)
    ),
    // Heuristic quality score.
    GQuery(
      "text_quality",
      (spark, dir) =>
        TextAnalysis.qualityScore(t(spark, dir, "documents"), "doc_id", "text"),
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        f AS (SELECT doc_id,
                     len(t)::DOUBLE AS n,
                     len(list_filter(t, x -> x IN
                       ('the','a','of','to','and','in','is','for')))::DOUBLE
                       / len(t) AS stop_ratio,
                     len(list_distinct(t))::DOUBLE / len(t) AS diversity
              FROM tok)
        SELECT doc_id,
               round(0.4::DOUBLE * least(1.0::DOUBLE, n / 50.0::DOUBLE)
                     + 0.3::DOUBLE * stop_ratio
                     + 0.3::DOUBLE * diversity, 6) AS quality
        FROM f
      """)
    ),
    // CURRICULUM ordering — the data-ordering stage of curriculum
    // training (easy/clean first): docs rank globally by quality (via
    // distributedRank — no single-partition window over the corpus),
    // quartile stages cut by integer rank arithmetic, and each stage is
    // internally md5-shuffled (determinism + no intra-stage quality
    // ordering artifacts). Two rank passes + two broadcast base joins;
    // everything integer until the output.
    GQuery(
      "pipeline_curriculum",
      (spark, dir) => {
        val q = TextAnalysis
          .qualityScore(t(spark, dir, "documents"), "doc_id", "text")
          .select(col("doc_id"), col("quality"))
        val ranked = graft.operators.Packing
          .distributedRank(q, Seq(col("quality").desc, col("doc_id")), "r")
        val base = broadcast(
          ranked.agg(min(col("r")).as("r0"), count(lit(1)).as("n")))
        val staged = ranked
          .crossJoin(base)
          .withColumn("qrank", col("r") - col("r0") + 1)
          .withColumn("stage", expr("((qrank - 1) * 4) div n + 1"))
          .withColumn("u",
            Dedup.md5Long(
              concat(col("doc_id").cast("string"), lit(":curriculum")))
              % 1000003)
          .select(col("doc_id"), col("qrank"), col("stage"), col("u"))
        val pos = graft.operators.Packing
          .distributedRank(staged, Seq(col("stage"), col("u"), col("doc_id")), "p")
        val stageBase = pos.groupBy(col("stage"))
          .agg(min(col("p")).as("p0"))
        pos
          .join(broadcast(stageBase), "stage")
          .select(
            col("doc_id"), col("stage").cast("long").as("stage"),
            col("qrank").cast("long").as("qrank"),
            (col("p") - col("p0") + 1).cast("long").as("pos"))
      },
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        f AS (SELECT doc_id,
                     len(t)::DOUBLE AS n,
                     len(list_filter(t, x -> x IN
                       ('the','a','of','to','and','in','is','for')))::DOUBLE
                       / len(t) AS stop_ratio,
                     len(list_distinct(t))::DOUBLE / len(t) AS diversity
              FROM tok),
        q AS (SELECT doc_id,
                     round(0.4::DOUBLE * least(1.0::DOUBLE, n / 50.0::DOUBLE)
                     + 0.3::DOUBLE * stop_ratio
                     + 0.3::DOUBLE * diversity, 6) AS quality
              FROM f),
        r AS (SELECT doc_id, quality,
                     row_number() OVER (ORDER BY quality DESC, doc_id)
                       AS qrank
              FROM q),
        nn AS (SELECT count(*) AS n FROM r),
        s AS (SELECT doc_id, qrank,
                     ((qrank - 1) * 4) // n + 1 AS stage
              FROM r CROSS JOIN nn),
        u AS (SELECT doc_id, qrank, stage,
                     ('0x' || substr(md5(doc_id::VARCHAR || ':curriculum'),
                       1, 14))::BIGINT % 1000003 AS u
              FROM s)
        SELECT doc_id, stage::BIGINT AS stage, qrank::BIGINT AS qrank,
               row_number() OVER (PARTITION BY stage
                                  ORDER BY u, doc_id)::BIGINT AS pos
        FROM u
      """)
    ),
    // Per-language quality CALIBRATION — percent-rank normalization
    // within each language before any global quality threshold (raw
    // quality scores aren't comparable across languages: stopword lists
    // and length norms are language-biased). percent_rank spelled as
    // (rank − min_rank)/(n_lang − 1) off ONE distributedRank — a skewed
    // giant language never lands in a single-partition window. Division
    // of identical integers → engine-identical doubles.
    GQuery(
      "pipeline_quality_calibration",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val q = TextAnalysis
          .qualityScore(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality"))
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        val ranked = graft.operators.Packing
          .distributedRank(q, Seq(col("lang"), col("quality"), col("doc_id")), "r")
        val base = ranked.groupBy(col("lang"))
          .agg(min(col("r")).as("r0"), count(lit(1)).as("nl"))
        ranked
          .join(broadcast(base), "lang")
          .select(
            col("doc_id"), col("lang"),
            round(col("quality"), 6).as("quality"),
            round(
              when(col("nl") > 1,
                (col("r") - col("r0")).cast("double") / (col("nl") - 1))
                .otherwise(lit(0.0)), 6).as("q_pct"))
      },
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        f AS (SELECT doc_id,
                     len(t)::DOUBLE AS n,
                     len(list_filter(t, x -> x IN
                       ('the','a','of','to','and','in','is','for')))::DOUBLE
                       / len(t) AS stop_ratio,
                     len(list_distinct(t))::DOUBLE / len(t) AS diversity
              FROM tok),
        q AS (SELECT doc_id,
                     round(0.4::DOUBLE * least(1.0::DOUBLE, n / 50.0::DOUBLE)
                     + 0.3::DOUBLE * stop_ratio
                     + 0.3::DOUBLE * diversity, 6) AS quality
              FROM f),
        ql AS (SELECT q.doc_id, d.lang, q.quality
               FROM q JOIN documents d ON d.doc_id = q.doc_id),
        r AS (SELECT doc_id, lang, quality,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY quality, doc_id) AS r,
                     count(*) OVER (PARTITION BY lang) AS nl
              FROM ql)
        SELECT doc_id, lang, round(quality, 6) AS quality,
               round(CASE WHEN nl > 1
                     THEN (r - 1)::DOUBLE / (nl - 1)
                     ELSE 0.0::DOUBLE END, 6) AS q_pct
        FROM r
      """)
    ),
    // C4 heuristic page filters (Raffel et al. 2020 §2.2) — the cleaning
    // pass behind C4 and every successor pipeline (FineWeb): line-keep
    // rule (≥3 words + terminal punctuation) + page-level placeholder
    // ("lorem ipsum") and code ("{") flags + the page keep decision.
    // documents.text is a flat token stream, so the query first derives
    // a deterministic PAGED fixture (the containment/PII precedent:
    // md5-coin line punctuation, 5% lorem pages, 4% brace pages) —
    // mirrored step for step in the oracle — and runs the generic
    // operator on real line structure.
    GQuery(
      "text_c4_filters",
      (spark, dir) =>
        TextAnalysis.c4Stats(pagedDocs(spark, dir), "doc_id", "page"),
      Some(s"""
        WITH $pagedCtes,
        cen AS (SELECT doc_id,
                       len(lines)::BIGINT AS n_lines,
                       len(list_filter(lines, l -> $c4KeptSql))::BIGINT
                         AS n_kept,
                       len(list_filter(lines,
                         l -> contains(lower(l), 'lorem ipsum'))) > 0
                         AS has_lorem,
                       len(list_filter(lines, l -> contains(l, '{'))) > 0
                         AS has_brace
                FROM pl3)
        SELECT doc_id, n_lines, n_kept,
               round(n_kept::DOUBLE / n_lines, 6) AS kept_frac,
               has_lorem, has_brace,
               (n_kept >= 3 AND NOT has_lorem AND NOT has_brace) AS keep
        FROM cen
      """)
    ),
    // The rewrite half: surviving pages keep only their rule-passing
    // lines (flagged pages dropped wholesale, C4 semantics). One row per
    // surviving page with the clean text's length + md5 — the whole
    // derive→census→rewrite pipeline hash-checked (the scrub-query
    // convention from pipeline_decontaminate_spans).
    GQuery(
      "text_c4_scrub",
      (spark, dir) =>
        TextAnalysis.c4Scrub(pagedDocs(spark, dir), "doc_id", "page")
          .select(
            col("doc_id"),
            length(col("clean_text")).cast("long").as("n_chars_clean"),
            md5(col("clean_text")).as("clean_md5"),
            col("n_dropped_lines")),
      Some(s"""
        WITH $pagedCtes,
        sc AS (SELECT doc_id,
                      len(lines)::BIGINT AS n_lines,
                      list_filter(lines, l -> $c4KeptSql) AS kept
               FROM pl3
               WHERE len(list_filter(lines,
                       l -> contains(lower(l), 'lorem ipsum')
                            OR contains(l, '{'))) = 0)
        SELECT doc_id,
               length(array_to_string(kept, chr(10)))::BIGINT
                 AS n_chars_clean,
               md5(array_to_string(kept, chr(10))) AS clean_md5,
               (n_lines - len(kept))::BIGINT AS n_dropped_lines
        FROM sc WHERE len(kept) >= 3
      """)
    ),
    // Unicode NFC normalization — the hygiene stage every tokenizer
    // pipeline runs first: canonically-equivalent byte sequences
    // (composed é vs e+U+0301) otherwise split dedup buckets, vocab
    // entries and tf-idf mass. Both engines implement the published
    // TR#15 algorithm (JVM java.text.Normalizer / DuckDB nfc_normalize),
    // so normalized output is byte-identical and the stage hash-checks.
    // The corpus is pure ASCII, so the query derives a mixed fixture:
    // an md5 coin appends a DECOMPOSED accent (normalization composes
    // it, code-point count drops), an already-COMPOSED one (no-op), or
    // nothing — all three paths observable.
    GQuery(
      "text_normalize",
      (spark, dir) => {
        val coin = Dedup.md5Long(
          concat(col("doc_id").cast("string"), lit(":norm"))) % 3
        val nfc = graft.functions.NfcNormalizeExpr.nfc _
        t(spark, dir, "documents")
          .select(
            col("doc_id"),
            concat(
              col("text"),
              when(coin === 0, lit(" café")) // decomposed: e + U+0301
                .when(coin === 1, lit(" café")) // precomposed U+00E9
                .otherwise(lit(""))).as("raw"))
          .select(
            col("doc_id"),
            length(col("raw")).cast("long").as("n_raw"),
            length(nfc(col("raw"))).cast("long").as("n_norm"),
            (nfc(col("raw")) =!= col("raw")).as("changed"),
            md5(nfc(col("raw"))).as("norm_md5"))
      },
      Some("""
        WITH d AS (SELECT doc_id,
                          text || CASE ('0x' || substr(md5(doc_id::VARCHAR
                                    || ':norm'), 1, 14))::BIGINT % 3
                                  WHEN 0 THEN ' cafe' || chr(769)
                                  WHEN 1 THEN ' caf' || chr(233)
                                  ELSE '' END AS raw
                   FROM documents)
        SELECT doc_id,
               length(raw)::BIGINT AS n_raw,
               length(nfc_normalize(raw))::BIGINT AS n_norm,
               nfc_normalize(raw) != raw AS changed,
               md5(nfc_normalize(raw)) AS norm_md5
        FROM d
      """)
    ),
    // Profile-based language id (fit on labels, predict per doc).
    GQuery(
      "text_langid",
      (spark, dir) =>
        TextAnalysis.langId(
          t(spark, dir, "documents"), "doc_id", "text", "lang", 20
        ),
      Some("""
        WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
                     FROM documents),
        prof AS (SELECT lang, w, count(*) AS c FROM tok GROUP BY lang, w),
        top AS (SELECT lang AS plang, w FROM (
                  SELECT lang, w,
                         row_number() OVER (PARTITION BY lang
                                            ORDER BY c DESC, w) AS rn
                  FROM prof) WHERE rn <= 20),
        score AS (SELECT t.doc_id, p.plang, count(*) AS s
                  FROM tok t JOIN top p ON t.w = p.w
                  GROUP BY t.doc_id, p.plang),
        pred AS (SELECT doc_id, plang AS predicted FROM (
                   SELECT doc_id, plang,
                          row_number() OVER (PARTITION BY doc_id
                                             ORDER BY s DESC, plang) AS rn
                   FROM score) WHERE rn = 1)
        SELECT d.doc_id, d.lang AS actual,
               COALESCE(p.predicted, '??') AS predicted
        FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id
      """)
    ),
    // Confusion matrix of the profile language-id against the gold lang
    // column — the per-language error census run before trusting langid
    // routing (which languages bleed into which drives profile-size and
    // routing-threshold choices). One cell per (actual, predicted) with
    // the count and the per-actual recall fraction; integer counts, one
    // division per cell.
    GQuery(
      "eval_langid_confusion",
      (spark, dir) => {
        val pred = TextAnalysis.langId(
          t(spark, dir, "documents"), "doc_id", "text", "lang", 20)
        val cells = pred
          .groupBy(col("actual"), col("predicted"))
          .agg(count(lit(1)).as("n"))
        val totals = pred
          .groupBy(col("actual"))
          .agg(count(lit(1)).as("tot"))
        cells
          .join(totals, "actual")
          .select(
            col("actual"), col("predicted"), col("n"),
            round(col("n").cast("double") / col("tot"), 6).as("frac"))
      },
      Some("""
        WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
                     FROM documents),
        prof AS (SELECT lang, w, count(*) AS c FROM tok GROUP BY lang, w),
        top AS (SELECT lang AS plang, w FROM (
                  SELECT lang, w,
                         row_number() OVER (PARTITION BY lang
                                            ORDER BY c DESC, w) AS rn
                  FROM prof) WHERE rn <= 20),
        score AS (SELECT t.doc_id, p.plang, count(*) AS s
                  FROM tok t JOIN top p ON t.w = p.w
                  GROUP BY t.doc_id, p.plang),
        pred AS (SELECT doc_id, plang AS predicted FROM (
                   SELECT doc_id, plang,
                          row_number() OVER (PARTITION BY doc_id
                                             ORDER BY s DESC, plang) AS rn
                   FROM score) WHERE rn = 1),
        lab AS (SELECT d.doc_id, d.lang AS actual,
                       COALESCE(p.predicted, '??') AS predicted
                FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id),
        cells AS (SELECT actual, predicted, count(*)::BIGINT AS n
                  FROM lab GROUP BY actual, predicted),
        totals AS (SELECT actual, count(*)::BIGINT AS tot
                   FROM lab GROUP BY actual)
        SELECT c.actual, c.predicted, c.n,
               round(c.n::DOUBLE / t.tot, 6) AS frac
        FROM cells c JOIN totals t ON t.actual = c.actual
      """)
    ),
    // Polynomial rolling fingerprint over the token stream.
    GQuery(
      "text_fingerprint",
      (spark, dir) =>
        TextAnalysis.fingerprint(t(spark, dir, "documents"), "doc_id", "text"),
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents)
        SELECT doc_id,
               list_reduce(
                 list_prepend(0::BIGINT,
                   list_transform(t, x ->
                     ('0x' || substr(md5(x), 1, 14))::BIGINT % 1000000007)),
                 (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
        FROM tok
      """)
    ),
    // The FineWeb-style FILTER STACK as one declarative plan: C4 page
    // keep (structure), heuristic quality (lexical), Kneser-Ney
    // perplexity (fluency-vs-corpus), top-bigram repetition (Gopher) —
    // four independent signal families joined on doc_id with one
    // conjunctive keep decision. Thresholds sit at discriminating
    // quantiles of each signal (each gate cuts 10-40% alone). Every
    // signal is individually hash-checked elsewhere; this row proves the
    // COMPOSITION — all four stacked, rounded-signal comparisons
    // identical across engines. NULL perplexity (sub-2-token docs)
    // fails the gate explicitly.
    GQuery(
      "pipeline_filter_stack",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val c4 = TextAnalysis
          .c4Stats(pagedDocs(spark, dir), "doc_id", "page")
          .select(col("doc_id"), col("keep").as("c4_keep"))
        val quality = TextAnalysis.qualityScore(docs, "doc_id", "text")
        val kn = TextAnalysis.perplexityKN(docs, "doc_id", "text")
          .select(col("doc_id"), col("perplexity"))
        val rep = TextAnalysis.repetitionStats(docs, "doc_id", "text")
          .select(col("doc_id"), col("top_bigram_frac"))
        c4.join(quality, "doc_id")
          .join(kn, "doc_id")
          .join(rep, "doc_id")
          .select(
            col("doc_id"), col("c4_keep"), col("quality"),
            col("perplexity"), col("top_bigram_frac"),
            (col("c4_keep") && col("quality") >= 0.5 &&
              coalesce(col("perplexity") <= 30.0, lit(false)) &&
              col("top_bigram_frac") <= 0.13).as("keep"))
      },
      Some(s"""
        WITH $pagedCtes,
        c4 AS (SELECT doc_id,
                      (len(list_filter(lines, l -> $c4KeptSql)) >= 3
                       AND len(list_filter(lines,
                             l -> contains(lower(l), 'lorem ipsum'))) = 0
                       AND len(list_filter(lines,
                             l -> contains(l, '{'))) = 0) AS c4_keep
               FROM pl3),
        tok AS (SELECT doc_id, string_split(text, ' ') AS t
                FROM documents),
        qf AS (SELECT doc_id,
                      len(t)::DOUBLE AS n,
                      len(list_filter(t, x -> x IN
                        ('the','a','of','to','and','in','is','for')))::DOUBLE
                        / len(t) AS stop_ratio,
                      len(list_distinct(t))::DOUBLE / len(t) AS diversity
               FROM tok),
        qual AS (SELECT doc_id,
                        round(0.4::DOUBLE * least(1.0::DOUBLE, n / 50.0::DOUBLE)
                              + 0.3::DOUBLE * stop_ratio
                              + 0.3::DOUBLE * diversity, 6) AS quality
                 FROM qf),
        bg AS (SELECT doc_id,
                      unnest(list_transform(generate_series(1, len(t)-1),
                             i -> t[i])) AS w1,
                      unnest(list_transform(generate_series(1, len(t)-1),
                             i -> t[i+1])) AS w2
               FROM tok WHERE len(t) >= 2),
        cb AS (SELECT w1, w2, count(*)::BIGINT AS cb FROM bg GROUP BY w1, w2),
        cu AS (SELECT w1, count(*)::BIGINT AS cu FROM bg GROUP BY w1),
        n1r AS (SELECT w1, count(*)::BIGINT AS n1r FROM cb GROUP BY w1),
        n1l AS (SELECT w2, count(*)::BIGINT AS n1l FROM cb GROUP BY w2),
        nbt AS (SELECT count(*)::BIGINT AS nbt FROM cb),
        nll AS (SELECT bg.doc_id,
                       -ln((cb - 0.75::DOUBLE) / cu
                           + ((0.75::DOUBLE * n1r) / cu)
                             * (n1l::DOUBLE / nbt)) AS nll
                FROM bg
                JOIN cb USING (w1, w2)
                JOIN cu USING (w1)
                JOIN n1r USING (w1)
                JOIN n1l USING (w2)
                CROSS JOIN nbt),
        per AS (SELECT doc_id,
                       round(exp(sum(nll::DECIMAL(38,20))::DOUBLE
                                 / count(*)), 6) AS perplexity
                FROM nll GROUP BY doc_id),
        bgr AS (SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(t) - 1),
                         i -> array_to_string(t[i:i+1], ' '))) AS g
                FROM tok WHERE len(t) >= 2),
        bc AS (SELECT doc_id, max(c) AS top_c
               FROM (SELECT doc_id, g, count(*) AS c FROM bgr
                     GROUP BY doc_id, g)
               GROUP BY doc_id),
        rep AS (SELECT tok.doc_id,
                       round(coalesce(2.0 * bc.top_c / len(tok.t), 0.0), 6)
                         AS top_bigram_frac
                FROM tok LEFT JOIN bc ON bc.doc_id = tok.doc_id)
        SELECT c4.doc_id, c4.c4_keep, qual.quality,
               per.perplexity, rep.top_bigram_frac,
               (c4.c4_keep AND qual.quality >= 0.5
                AND coalesce(per.perplexity <= 30.0, false)
                AND rep.top_bigram_frac <= 0.13) AS keep
        FROM c4
        JOIN qual USING (doc_id)
        LEFT JOIN per USING (doc_id)
        JOIN rep USING (doc_id)
      """)
    ),
    // The capstone composition a training-data pipeline actually runs:
    // keep each near-dup cluster's canonical representative, gate on the
    // heuristic quality score, and carry the token count for downstream
    // budgeting — dedup clustering + quality scoring + token stats
    // composed in one declarative plan, hash-checked end to end.
    GQuery(
      "pipeline_select",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val reps = Dedup.connectedComponents(
          Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3),
          "doc_a", "doc_b")
        val quality = TextAnalysis.qualityScore(docs, "doc_id", "text")
        val toks = TextAnalysis.tokenStats(docs, "doc_id", "text")
          .select(col("doc_id"), col("n_tokens"))
        docs
          .select(col("doc_id"))
          .join(reps, Seq("doc_id"), "left")
          .filter(coalesce(col("rep_id"), col("doc_id")) === col("doc_id"))
          .join(quality, "doc_id")
          .filter(col("quality") >= 0.5)
          .join(toks, "doc_id")
          .select(col("doc_id"), col("quality"), col("n_tokens"))
      },
      Some(s"""
        WITH RECURSIVE
        $simhashClosureCtes,
        tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        f AS (SELECT doc_id,
                     len(t)::DOUBLE AS n,
                     len(list_filter(t, x -> x IN
                       ('the','a','of','to','and','in','is','for')))::DOUBLE
                       / len(t) AS stop_ratio,
                     len(list_distinct(t))::DOUBLE / len(t) AS diversity
              FROM tok),
        q AS (SELECT doc_id,
                     round(0.4::DOUBLE * least(1.0::DOUBLE, n / 50.0::DOUBLE)
                           + 0.3::DOUBLE * stop_ratio
                           + 0.3::DOUBLE * diversity, 6) AS quality
              FROM f),
        nt AS (SELECT doc_id, len(t)::BIGINT AS n_tokens FROM tok)
        SELECT d.doc_id, q.quality, nt.n_tokens
        FROM documents d
        LEFT JOIN comps c ON c.id = d.doc_id
        JOIN q ON q.doc_id = d.doc_id
        JOIN nt ON nt.doc_id = d.doc_id
        WHERE coalesce(c.rep, d.doc_id) = d.doc_id AND q.quality >= 0.5
      """)
    ),
    // Quality-aware representative selection — what production dedup
    // actually keeps: not the lowest-id member of each near-dup cluster
    // but the BEST one (highest quality, doc_id tie-break). Same
    // component structure as pipeline_select (shared closure CTEs);
    // singletons represent themselves; one rank window per cluster plus
    // the cluster size for downstream dedup-ratio reporting.
    GQuery(
      "pipeline_select_best",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val reps = Dedup.connectedComponents(
          Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3),
          "doc_a", "doc_b")
        val quality = TextAnalysis.qualityScore(docs, "doc_id", "text")
        val withRep = docs
          .select(col("doc_id"))
          .join(reps, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            coalesce(col("rep_id"), col("doc_id")).as("rep"))
          .join(quality, "doc_id")
        val w = Window.partitionBy(col("rep"))
          .orderBy(col("quality").desc, col("doc_id"))
        withRep
          .withColumn("rn", row_number().over(w))
          .withColumn(
            "cluster_size",
            count(lit(1)).over(Window.partitionBy(col("rep"))))
          .filter(col("rn") === 1)
          .select(
            col("doc_id"), col("rep").as("rep_id"),
            col("cluster_size").cast("long").as("cluster_size"),
            col("quality"))
      },
      Some(s"""
        WITH RECURSIVE
        $simhashClosureCtes,
        tok AS (SELECT doc_id, string_split(text, ' ') AS t
                FROM documents),
        f AS (SELECT doc_id,
                     len(t)::DOUBLE AS n,
                     len(list_filter(t, x -> x IN
                       ('the','a','of','to','and','in','is','for')))::DOUBLE
                       / len(t) AS stop_ratio,
                     len(list_distinct(t))::DOUBLE / len(t) AS diversity
              FROM tok),
        q AS (SELECT doc_id,
                     round(0.4::DOUBLE * least(1.0::DOUBLE, n / 50.0::DOUBLE)
                           + 0.3::DOUBLE * stop_ratio
                           + 0.3::DOUBLE * diversity, 6) AS quality
              FROM f),
        allr AS (SELECT d.doc_id, coalesce(c.rep, d.doc_id) AS rep
                 FROM documents d LEFT JOIN comps c ON c.id = d.doc_id),
        rk AS (SELECT allr.doc_id, allr.rep, q.quality,
                      row_number() OVER (PARTITION BY allr.rep
                                         ORDER BY q.quality DESC,
                                                  allr.doc_id) AS rn,
                      count(*) OVER (PARTITION BY allr.rep) AS cluster_size
               FROM allr JOIN q ON q.doc_id = allr.doc_id)
        SELECT doc_id, rep AS rep_id, cluster_size::BIGINT AS cluster_size,
               quality
        FROM rk WHERE rn = 1
      """)
    ),
    // Token-budget packing — the data-mixing step: within each language,
    // rank documents by quality (doc_id tie-break) and keep the prefix
    // whose running token count fits the per-language budget. One window
    // over (lang)-partitioned data; at scale that is one hash shuffle on
    // the language key, and a skewed language is exactly the q19 salting
    // situation if it ever matters.
    GQuery(
      "pipeline_budget",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(spark, dir, "documents")
        val quality = TextAnalysis.qualityScore(docs, "doc_id", "text")
        val toks = TextAnalysis.tokenStats(docs, "doc_id", "text")
          .select(col("doc_id"), col("n_tokens"))
        val w = Window
          .partitionBy(col("lang"))
          .orderBy(col("quality").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs
          .select(col("doc_id"), col("lang"))
          .join(quality, "doc_id")
          .join(toks, "doc_id")
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
          .filter(col("cum_tokens") <= 2000)
          .select(
            col("lang"), col("doc_id"), col("quality"),
            col("n_tokens"), col("cum_tokens")
          )
      },
      Some("""
        WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS t
                     FROM documents),
        f AS (SELECT doc_id, lang,
                     len(t)::DOUBLE AS n,
                     len(t)::BIGINT AS n_tokens,
                     len(list_filter(t, x -> x IN
                       ('the','a','of','to','and','in','is','for')))::DOUBLE
                       / len(t) AS stop_ratio,
                     len(list_distinct(t))::DOUBLE / len(t) AS diversity
              FROM tok),
        q AS (SELECT doc_id, lang, n_tokens,
                     round(0.4::DOUBLE * least(1.0::DOUBLE, n / 50.0::DOUBLE)
                           + 0.3::DOUBLE * stop_ratio
                           + 0.3::DOUBLE * diversity, 6) AS quality
              FROM f),
        c AS (SELECT lang, doc_id, quality, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY lang
                       ORDER BY quality DESC, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum_tokens
              FROM q)
        SELECT lang, doc_id, quality, n_tokens, cum_tokens::BIGINT AS cum_tokens
        FROM c WHERE cum_tokens <= 2000
      """)
    ),
    // Reproducible stratified sampling — the mixing step that up-weights
    // low-resource languages. Sampling is a HASH, not an RNG: the
    // Bernoulli draw is md5(doc_id:salt) mapped to [0,1), so the sample
    // is deterministic, partition-independent, rerunnable, and identical
    // across engines (Spark rand(seed) would be none of those). Rates:
    // 20% for 'en', 50% for everything else.
    GQuery(
      "pipeline_sample",
      (spark, dir) => {
        val u = (Dedup.md5Long(
          concat(col("doc_id").cast("string"), lit(":42"))) % 1000000)
          .cast("double") / lit(1000000.0)
        t(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), u.as("u"))
          .filter(col("u") <
            when(col("lang") === "en", lit(0.2)).otherwise(lit(0.5)))
          .select(col("doc_id"), col("lang"), round(col("u"), 6).as("u"))
      },
      Some("""
        WITH d AS (SELECT doc_id, lang,
                          (('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 14))::BIGINT
                           % 1000000)::DOUBLE / 1000000.0 AS u
                   FROM documents)
        SELECT doc_id, lang, round(u, 6) AS u
        FROM d
        WHERE u < CASE WHEN lang = 'en' THEN 0.2 ELSE 0.5 END
      """)
    ),
    // Multilingual temperature rebalancing (mT5 §3.1 / CCNet): sample
    // languages to p_l ∝ n_l^α (α = 0.5 spelled as sqrt — IEEE
    // correctly-rounded on both engines, unlike pow) so low-resource
    // languages are up-weighted relative to their natural share. Budget
    // B = N/2 docs; per-language acceptance rate min(1, B·p_l/n_l),
    // applied with the engine's standard md5 coin — deterministic,
    // partition-independent, rerunnable. The normalizer routes through
    // DECIMAL(30,6) so the language sum is order-free; every arithmetic
    // step is mirrored exactly by the oracle.
    GQuery(
      "pipeline_temperature",
      (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val docs = t(spark, dir, "documents")
        val langs = docs.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_l"))
        val tot = langs.agg(
          sum(col("n_l")).as("n"),
          sum(sqrt(col("n_l").cast("double")).cast(DecimalType(30, 6)))
            .cast("double").as("s"))
        val rates = langs
          .crossJoin(broadcast(tot))
          .select(
            col("lang"), col("n_l"),
            least(
              lit(1.0),
              (floor(col("n") / 2).cast("double") *
                (sqrt(col("n_l").cast("double"))
                  .cast(DecimalType(30, 6)).cast("double") / col("s")))
                / col("n_l").cast("double")
            ).as("rate"))
        val u = (Dedup.md5Long(
          concat(col("doc_id").cast("string"), lit(":temp"))) % 1000000)
          .cast("double") / lit(1000000.0)
        docs
          .select(col("doc_id"), col("lang"), u.as("u"))
          .join(broadcast(rates), "lang")
          .filter(col("u") < col("rate"))
          .select(
            col("doc_id"), col("lang"),
            round(col("rate"), 6).as("rate"), round(col("u"), 6).as("u"))
      },
      Some("""
        WITH l AS (SELECT lang, count(*)::BIGINT AS n_l
                   FROM documents GROUP BY lang),
        tot AS (SELECT sum(n_l)::BIGINT AS n,
                       sum((sqrt(n_l::DOUBLE))::DECIMAL(30,6))::DOUBLE AS s
                FROM l),
        rates AS (SELECT l.lang, l.n_l,
                         least(1.0,
                           (floor(tot.n / 2)::DOUBLE *
                            ((sqrt(l.n_l::DOUBLE))::DECIMAL(30,6)::DOUBLE
                             / tot.s)) / l.n_l::DOUBLE) AS rate
                  FROM l CROSS JOIN tot),
        d AS (SELECT doc_id, lang,
                     (('0x' || substr(md5(doc_id::VARCHAR || ':temp'),
                       1, 14))::BIGINT % 1000000)::DOUBLE / 1000000.0 AS u
              FROM documents)
        SELECT d.doc_id, d.lang,
               round(r.rate, 6) AS rate, round(d.u, 6) AS u
        FROM d JOIN rates r ON r.lang = d.lang
        WHERE d.u < r.rate
      """)
    ),
    // fastText-style quality classifier (Joulin et al. 2016) — the
    // DCLM/FineWeb filtering stage: word + bigram features through the
    // hashing trick, mean-pooled weights, sigmoid. Deterministic
    // md5-derived stand-in weights (declared; a trained table drops in as
    // a broadcast join); integer-milli weights keep the feature sum and
    // the keep decision exact across engines, so the whole classifier is
    // hash-checked.
    GQuery(
      "text_classifier",
      (spark, dir) =>
        TextAnalysis.linearClassifier(
          t(spark, dir, "documents"), "doc_id", "text"),
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        f AS (SELECT doc_id, unnest(list_concat(
                list_transform(t, x -> 'u:' || x),
                CASE WHEN len(t) >= 2
                THEN list_transform(generate_series(1, len(t)-1),
                       i -> 'b:' || t[i] || ' ' || t[i+1])
                ELSE []::VARCHAR[] END)) AS feat
              FROM tok),
        wm AS (SELECT doc_id,
                      (('0x' || substr(md5(feat), 1, 14))::BIGINT % 2001)
                        - 1000 AS wm
               FROM f),
        s AS (SELECT doc_id, sum(wm)::BIGINT AS wsum,
                     count(*)::BIGINT AS nfeat
              FROM wm GROUP BY 1)
        SELECT doc_id, wsum, nfeat,
               round(1.0 / (1.0 +
                 exp(-(wsum::DOUBLE / (1000.0 * nfeat)))), 6) AS score,
               wsum >= 0 AS keep
        FROM s
      """)
    ),
    // Deterministic epoch shuffle — the training-order assignment of a
    // data-parallel loader (PyTorch DistributedSampler semantics: one
    // seeded global permutation per epoch, rank r consumes positions
    // r, r+world, r+2·world, ...). The permutation key is md5(doc:epoch:
    // seed), not an RNG — deterministic, partition-independent, identical
    // across engines and reruns. The global position comes from
    // Packing.distributedRank (range partitions + driver prefix sum), so
    // there is NO single-partition row_number anywhere: the full corpus
    // permutation is computed at shuffle parallelism, the thing a naive
    // Window.orderBy would collapse. Per-epoch position = global rank
    // minus epoch·N (epoch-major sort), N one driver scalar.
    GQuery(
      "pipeline_shuffle",
      (spark, dir) => {
        val world = 8
        val docs = t(spark, dir, "documents").select(col("doc_id"))
        val keyed = docs
          .select(
            col("doc_id"),
            explode(sequence(lit(0), lit(1))).as("epoch0"))
          .select(col("doc_id"), col("epoch0").cast("long").as("epoch"))
          .withColumn(
            "u",
            Dedup.md5Long(concat(
              col("doc_id").cast("string"), lit(":"),
              col("epoch").cast("string"), lit(":1337"))))
        val ranked = Packing.distributedRank(
          keyed, Seq(col("epoch"), col("u"), col("doc_id")), "grank")
        // one scalar (same bounded budget as distributedRank's prefix
        // collect) — keeps the plan free of count-row joins and global
        // single-partition aggregates
        val n = docs.count()
        ranked
          .withColumn("p", col("grank") - col("epoch") * lit(n))
          .select(
            col("epoch"),
            col("doc_id"),
            (col("p") % world).as("dp_rank"),
            (col("p") / world).cast("long").as("step"))
      },
      Some("""
        WITH e AS (SELECT doc_id, unnest([0, 1])::BIGINT AS epoch
                   FROM documents),
        k AS (SELECT doc_id, epoch,
                     ('0x' || substr(md5(doc_id::VARCHAR || ':' ||
                       epoch::VARCHAR || ':1337'), 1, 14))::BIGINT AS u
              FROM e),
        r AS (SELECT doc_id, epoch,
                     row_number() OVER (PARTITION BY epoch
                                        ORDER BY u, doc_id) - 1 AS p
              FROM k)
        SELECT epoch, doc_id, p % 8 AS dp_rank, p // 8 AS step FROM r
      """)
    ),
    // WEIGHTED sampling without an RNG — Efraimidis–Spirakis A-ES as a
    // bounded-heap aggregate: each doc draws u = md5-uniform in (0, 1]
    // and the top-5 per language by the key u^(1/w) (w = n_chars, longer
    // docs proportionally likelier) are the sample. The rank uses the
    // monotone-equivalent ln(u)/w, skipping pow entirely. One pass, no
    // per-stratum sort of the corpus: the per-lang top-k is the same
    // partial-aggregating bounded heap as every kNN merge, so a skewed
    // giant language costs O(k) state, not a sort. Deterministic,
    // partition-independent, engine-portable — rerunnable sampling is
    // what makes pipeline reproducibility real.
    GQuery(
      "pipeline_sample_weighted",
      (spark, dir) => {
        import graft.functions.TopKAgg.bestPer
        val docs = t(spark, dir, "documents")
          .select(
            col("doc_id"), col("lang"),
            col("n_chars").cast("double").as("w"),
            ((Dedup.md5Long(concat(col("doc_id").cast("string"), lit(":aes")))
              % 1000000 + 1).cast("double") / lit(1000001.0)).as("u"))
          .withColumn("key", log(col("u")) / col("w"))
        val picked = bestPer(docs, Seq("lang"), -col("key"), "doc_id", 5)
          .select(col("lang"), col("doc_id"), col("rnk").cast("long").as("rnk"))
        picked
          .join(docs.select(col("doc_id"), col("w"), col("key")), "doc_id")
          .select(
            col("lang"), col("doc_id"), col("w").cast("long").as("weight"),
            round(col("key"), 6).as("key"), col("rnk"))
      },
      Some("""
        WITH d AS (SELECT doc_id, lang, n_chars::DOUBLE AS w,
                          ((('0x' || substr(md5(doc_id::VARCHAR || ':aes'),
                            1, 14))::BIGINT % 1000000 + 1))::DOUBLE
                            / 1000001.0 AS u
                   FROM documents),
        k AS (SELECT doc_id, lang, w, ln(u) / w AS key FROM d),
        r AS (SELECT lang, doc_id, w, key,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY key DESC, doc_id) AS rnk
              FROM k)
        SELECT lang, doc_id, w::BIGINT AS weight, round(key, 6) AS key, rnk
        FROM r WHERE rnk <= 5
      """)
    ),
    // Test-set decontamination: every training doc (doc_id % 50 != 0)
    // with the count of distinct 5-grams it shares with the held-out eval
    // slice (doc_id % 50 = 0) — the pre-training hygiene join, blocked on
    // the shingle like dedup_jaccard, eval side collapsed to a DISTINCT
    // shingle set (broadcastable: eval corpora are tiny next to the
    // training corpus).
    GQuery(
      "pipeline_decontaminate",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        Dedup.decontaminate(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 5
        )
      },
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        ng AS (SELECT doc_id,
                      unnest(list_distinct(list_transform(
                        generate_series(1, len(t) - 4),
                        i -> array_to_string(t[i:i+4], ' ')))) AS sh
               FROM tok WHERE len(t) >= 5),
        ev AS (SELECT DISTINCT sh FROM ng WHERE doc_id % 50 = 0),
        hits AS (SELECT ng.doc_id, count(*) AS n_hits
                 FROM ng JOIN ev USING (sh)
                 WHERE ng.doc_id % 50 != 0
                 GROUP BY ng.doc_id)
        SELECT d.doc_id,
               coalesce(h.n_hits, 0)::BIGINT AS n_hits,
               coalesce(h.n_hits, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
        WHERE d.doc_id % 50 != 0
      """)
    ),
    // Span-level decontamination + scrub: instead of DROPPING a training
    // doc that shares an n-gram with the eval slice (pipeline_decontaminate
    // above), locate the maximal leaked character spans (any 20-char window
    // appearing verbatim in an eval doc) and CUT them, keeping the rest of
    // the doc — ExactSubstr (Lee et al. 2022) applied across corpora. One
    // row per training doc: span stats + the scrubbed text's length and
    // md5, so the whole detect→merge→rewrite pipeline is hash-checked.
    // Spark runs the O(chars) rolling-hash window kernel on both corpora;
    // the oracle replays windows→islands→gap-reassembly in plain SQL.
    GQuery(
      "pipeline_decontaminate_spans",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val train = docs.filter(col("doc_id") % 50 =!= 0)
        val spans = Dedup.contaminatedSpans(
          train, docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", w = 20)
        Dedup.scrubSpans(train, "doc_id", "text", spans)
          .select(
            col("doc_id"), col("n_spans"), col("removed_chars"),
            length(col("clean_text")).cast("long").as("clean_len"),
            md5(col("clean_text")).as("clean_md5"))
      },
      Some("""
        WITH d AS (SELECT doc_id, text FROM documents),
        w AS (SELECT doc_id,
                     unnest(generate_series(1,
                       greatest(length(text)-19, 0)))::BIGINT AS i,
                     text
              FROM d),
        wh AS (SELECT doc_id, i, substr(text, i::INT, 20) AS win FROM w),
        ev AS (SELECT DISTINCT win FROM wh WHERE doc_id % 50 = 0),
        p AS (SELECT wh.doc_id, wh.i AS s, wh.i + 19 AS e
              FROM wh JOIN ev USING (win)
              WHERE wh.doc_id % 50 != 0),
        m AS (SELECT doc_id, s, e,
                     max(e) OVER (PARTITION BY doc_id ORDER BY s
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS pmax
              FROM p),
        isl AS (SELECT doc_id, s, e,
                       sum(CASE WHEN pmax IS NULL OR s > pmax + 1
                           THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY s) AS g
                FROM m),
        spans AS (SELECT doc_id, min(s) AS ss, max(e) AS se
                  FROM isl GROUP BY doc_id, g),
        agg AS (SELECT doc_id, count(*) AS n_spans,
                       sum(se - ss + 1) AS removed
                FROM spans GROUP BY doc_id),
        segs AS (SELECT doc_id,
                        coalesce(lag(se) OVER (PARTITION BY doc_id
                                               ORDER BY ss), 0) + 1 AS ks,
                        ss - 1 AS ke
                 FROM spans
                 UNION ALL
                 SELECT s.doc_id, max(s.se) + 1 AS ks,
                        max(length(d.text))::BIGINT AS ke
                 FROM spans s JOIN d USING (doc_id) GROUP BY s.doc_id),
        kept AS (SELECT g.doc_id,
                        string_agg(substr(d.text, g.ks::INT,
                          greatest(g.ke - g.ks + 1, 0)::INT),
                          '' ORDER BY g.ks) AS ct
                 FROM segs g JOIN d ON d.doc_id = g.doc_id
                 GROUP BY g.doc_id)
        SELECT d.doc_id,
               coalesce(a.n_spans, 0)::BIGINT AS n_spans,
               coalesce(a.removed, 0)::BIGINT AS removed_chars,
               length(coalesce(k.ct, d.text))::BIGINT AS clean_len,
               md5(coalesce(k.ct, d.text)) AS clean_md5
        FROM d LEFT JOIN agg a USING (doc_id)
               LEFT JOIN kept k USING (doc_id)
        WHERE d.doc_id % 50 != 0
      """)
    ),
    // The decontamination LADDER with per-rung attribution — how a
    // production run sequences the rungs (cheap exact n-gram overlap
    // first, fuzzy MinHash on its survivors, span-level scrub on what
    // remains — drop only what must drop, cut only what must be cut):
    // one row per training doc with the rung that handled it ('exact' /
    // 'fuzzy' dropped, 'scrubbed' kept-with-cuts, 'clean'), the rung's
    // own signal count, and the md5 of the text the pipeline actually
    // SHIPS (scrubbed or original; NULL for dropped docs) — the
    // end-state digest of the whole ladder under one oracle. Rungs
    // reuse the exact operators their standalone rows hash-check.
    GQuery(
      "pipeline_decontaminate_cascade",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        Dedup.decontaminateCascade(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text")
      },
      Some(s"""
        WITH $shingleCtes,
        tok5 AS (SELECT doc_id, string_split(text, ' ') AS t
                 FROM documents),
        ng5 AS (SELECT doc_id,
                       unnest(list_distinct(list_transform(
                         generate_series(1, len(t) - 4),
                         i -> array_to_string(t[i:i+4], ' ')))) AS g5
                FROM tok5 WHERE len(t) >= 5),
        ev5 AS (SELECT DISTINCT g5 FROM ng5 WHERE doc_id % 50 = 0),
        exk AS (SELECT ng5.doc_id, count(*)::BIGINT AS s1
                FROM ng5 JOIN ev5 USING (g5)
                WHERE ng5.doc_id % 50 != 0
                GROUP BY ng5.doc_id),
        d1 AS (SELECT doc_id, text FROM documents
               WHERE doc_id % 50 != 0
                 AND doc_id NOT IN (SELECT doc_id FROM exk)),
        mh AS (SELECT doc_id, i,
                      min(((2*i+1) * x + 12289*i) % 1000000007) AS v
               FROM (SELECT doc_id,
                            ('0x' || substr(md5(sh), 1, 14))::BIGINT
                              % 1000000007 AS x
                     FROM sh)
               CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i)
               GROUP BY doc_id, i),
        bands AS (SELECT doc_id, i // 4 AS band,
                         string_agg(v::VARCHAR, ',' ORDER BY i) AS sig
                  FROM mh GROUP BY doc_id, i // 4),
        candf AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.sig = b.sig
                  WHERE a.doc_id IN (SELECT doc_id FROM d1)
                    AND b.doc_id % 50 = 0),
        commonf AS (SELECT doc_a, doc_b, count(*) AS c
                    FROM candf
                    JOIN sh sa ON sa.doc_id = doc_a
                    JOIN sh sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
                    GROUP BY 1, 2),
        fzk AS (SELECT doc_a AS doc_id, count(*)::BIGINT AS s2
                FROM (SELECT doc_a
                      FROM commonf
                      JOIN sizes sa ON sa.doc_id = doc_a
                      JOIN sizes sb ON sb.doc_id = doc_b
                      WHERE c::DOUBLE / (sa.nsh + sb.nsh - c) >= 0.5)
                GROUP BY doc_a),
        d2 AS (SELECT doc_id, text FROM d1
               WHERE doc_id NOT IN (SELECT doc_id FROM fzk)),
        w20 AS (SELECT doc_id,
                       unnest(generate_series(1,
                         greatest(length(text)-19, 0)))::BIGINT AS i,
                       text
                FROM documents),
        wh20 AS (SELECT doc_id, i, substr(text, i::INT, 20) AS win FROM w20),
        ev20 AS (SELECT DISTINCT win FROM wh20 WHERE doc_id % 50 = 0),
        p AS (SELECT wh20.doc_id, wh20.i AS s, wh20.i + 19 AS e
              FROM wh20 JOIN ev20 USING (win)
              WHERE wh20.doc_id IN (SELECT doc_id FROM d2)),
        m AS (SELECT doc_id, s, e,
                     max(e) OVER (PARTITION BY doc_id ORDER BY s
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS pmax
              FROM p),
        isl AS (SELECT doc_id, s, e,
                       sum(CASE WHEN pmax IS NULL OR s > pmax + 1
                           THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY s) AS g
                FROM m),
        spans AS (SELECT doc_id, min(s) AS ss, max(e) AS se
                  FROM isl GROUP BY doc_id, g),
        agg AS (SELECT doc_id, count(*)::BIGINT AS n_spans
                FROM spans GROUP BY doc_id),
        segs AS (SELECT doc_id,
                        coalesce(lag(se) OVER (PARTITION BY doc_id
                                               ORDER BY ss), 0) + 1 AS ks,
                        ss - 1 AS ke
                 FROM spans
                 UNION ALL
                 SELECT s.doc_id, max(s.se) + 1 AS ks,
                        max(length(d.text))::BIGINT AS ke
                 FROM spans s JOIN d2 d USING (doc_id) GROUP BY s.doc_id),
        kept AS (SELECT g.doc_id,
                        string_agg(substr(d.text, g.ks::INT,
                          greatest(g.ke - g.ks + 1, 0)::INT),
                          '' ORDER BY g.ks) AS ct
                 FROM segs g JOIN d2 d ON d.doc_id = g.doc_id
                 GROUP BY g.doc_id)
        SELECT d.doc_id,
               CASE WHEN exk.s1 IS NOT NULL THEN 'exact'
                    WHEN fzk.s2 IS NOT NULL THEN 'fuzzy'
                    WHEN coalesce(agg.n_spans, 0) > 0 THEN 'scrubbed'
                    ELSE 'clean' END AS rung,
               coalesce(exk.s1, fzk.s2,
                 CASE WHEN coalesce(agg.n_spans, 0) > 0
                      THEN agg.n_spans END, 0)::BIGINT AS n_signals,
               CASE WHEN exk.s1 IS NOT NULL OR fzk.s2 IS NOT NULL
                    THEN NULL
                    ELSE md5(coalesce(kept.ct, d.text)) END AS ship_md5
        FROM documents d
        LEFT JOIN exk ON exk.doc_id = d.doc_id
        LEFT JOIN fzk ON fzk.doc_id = d.doc_id
        LEFT JOIN agg ON agg.doc_id = d.doc_id
        LEFT JOIN kept ON kept.doc_id = d.doc_id
        WHERE d.doc_id % 50 != 0
      """)
    ),
    // PII scrub: detection counts + redacted-text hash over a derived
    // corpus with deterministically injected emails (doc_id % 7 = 0) and
    // phone numbers (doc_id % 5 = 0) — the raw corpus contains none, so
    // the injection makes the regexes actually discriminate. Patterns are
    // Java-regex == RE2 portable (no lookaround/backrefs); both engines
    // derive the same text and must agree byte-exactly on the redaction.
    GQuery(
      "text_pii",
      (spark, dir) => {
        val derived = t(spark, dir, "documents").select(
          col("doc_id"),
          concat(
            col("text"),
            when(
              col("doc_id") % 7 === 0,
              concat(lit(" reach me at user"), col("doc_id").cast("string"),
                lit("@mail-"), col("lang"), lit(".org"))
            ).otherwise(lit("")),
            when(
              col("doc_id") % 5 === 0,
              concat(lit(" call 555-010-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
            ).otherwise(lit(""))
          ).as("txt")
        )
        TextAnalysis.piiStats(derived, "doc_id", "txt")
      },
      Some(s"""
        WITH derived AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 7 = 0
                         THEN ' reach me at user' || doc_id::VARCHAR
                              || '@mail-' || lang || '.org'
                         ELSE '' END
                 || CASE WHEN doc_id % 5 = 0
                         THEN ' call 555-010-'
                              || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                         ELSE '' END AS txt
          FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(txt,
                 '${TextAnalysis.EmailPattern}'))::BIGINT AS n_emails,
               len(regexp_extract_all(txt,
                 '${TextAnalysis.PhonePattern}'))::BIGINT AS n_phones,
               md5(regexp_replace(regexp_replace(txt,
                 '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
                 '${TextAnalysis.PhonePattern}', '<PHONE>', 'g'))
                 AS redacted_md5
        FROM derived
      """)
    ),
    // Fuzzy decontamination: MinHash-LSH ACROSS corpora (train doc_id %
    // 50 != 0 vs eval % 50 = 0) — near-duplicate eval leaks that exact
    // n-gram overlap understates. Same 16-perm/4-band machinery as
    // dedup_minhash_lsh (signatures depend only on a doc's own shingles,
    // so the oracle computes them from the combined corpus), candidates
    // restricted to train x eval, exact-Jaccard verify at 0.5.
    GQuery(
      "pipeline_decontaminate_fuzzy",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        Dedup.decontaminateFuzzy(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 3, numPerms = 16, bands = 4, tau = 0.5
        )
      },
      Some(s"""
        WITH $shingleCtes,
        mh AS (SELECT doc_id, i,
                      min(((2*i+1) * x + 12289*i) % 1000000007) AS v
               FROM (SELECT doc_id,
                            ('0x' || substr(md5(sh), 1, 14))::BIGINT
                              % 1000000007 AS x
                     FROM sh)
               CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i)
               GROUP BY doc_id, i),
        bands AS (SELECT doc_id, i // 4 AS band,
                         string_agg(v::VARCHAR, ',' ORDER BY i) AS sig
                  FROM mh GROUP BY doc_id, i // 4),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.sig = b.sig
                 WHERE a.doc_id % 50 != 0 AND b.doc_id % 50 = 0),
        common AS (SELECT doc_a, doc_b, count(*) AS c
                   FROM cand
                   JOIN sh sa ON sa.doc_id = doc_a
                   JOIN sh sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
                   GROUP BY 1, 2),
        j AS (SELECT doc_a, c::DOUBLE / (sa.nsh + sb.nsh - c) AS jac
              FROM common
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
              WHERE c::DOUBLE / (sa.nsh + sb.nsh - c) >= 0.5),
        m AS (SELECT doc_a AS doc_id, count(*) AS n_matches,
                     max(jac) AS mx
              FROM j GROUP BY doc_a)
        SELECT d.doc_id,
               coalesce(m.n_matches, 0)::BIGINT AS n_matches,
               round(coalesce(m.mx, 0.0), 6) AS max_jaccard,
               coalesce(m.n_matches, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN m USING (doc_id)
        WHERE d.doc_id % 50 != 0
      """)
    ),
    // Bloom-prefiltered exact decontamination: the eval shingle set rides
    // to the train scan as a 64 Kbit plan-embedded Bloom filter (codegen
    // bit tests), with an exact verify join over only the survivors — the
    // 100 TB shape of the same query (a compact filter instead of a
    // GB-scale broadcast string set). The Bloom cannot produce false
    // negatives, so the result — and the oracle — are IDENTICAL to
    // pipeline_decontaminate's.
    GQuery(
      "pipeline_decontaminate_bloom",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        Dedup.decontaminateBloom(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 5, mBits = 1 << 16, kHashes = 5
        )
      },
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        ng AS (SELECT doc_id,
                      unnest(list_distinct(list_transform(
                        generate_series(1, len(t) - 4),
                        i -> array_to_string(t[i:i+4], ' ')))) AS sh
               FROM tok WHERE len(t) >= 5),
        ev AS (SELECT DISTINCT sh FROM ng WHERE doc_id % 50 = 0),
        hits AS (SELECT ng.doc_id, count(*) AS n_hits
                 FROM ng JOIN ev USING (sh)
                 WHERE ng.doc_id % 50 != 0
                 GROUP BY ng.doc_id)
        SELECT d.doc_id,
               coalesce(h.n_hits, 0)::BIGINT AS n_hits,
               coalesce(h.n_hits, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
        WHERE d.doc_id % 50 != 0
      """)
    ),
    // Boilerplate span coverage (the token-stream analog of RefinedWeb
    // line-level dedup): 5-token spans occurring in >= 2 distinct docs
    // are boilerplate; each doc reports the fraction of its span
    // positions covered. Linear in span positions — no pair enumeration.
    GQuery(
      "dedup_boilerplate",
      (spark, dir) =>
        Dedup.boilerplate(
          t(spark, dir, "documents"), "doc_id", "text", n = 5, minDf = 2),
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        pos AS (SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(t) - 4),
                         i -> array_to_string(t[i:i+4], ' '))) AS sh
                FROM tok WHERE len(t) >= 5),
        dfreq AS (SELECT sh, count(DISTINCT doc_id) AS df
                  FROM pos GROUP BY sh),
        per AS (SELECT p.doc_id, count(*) AS n_spans,
                       sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS n_boiler
                FROM pos p JOIN dfreq f USING (sh) GROUP BY p.doc_id)
        SELECT d.doc_id,
               coalesce(per.n_spans, 0)::BIGINT AS n_spans,
               coalesce(per.n_boiler, 0)::BIGINT AS n_boiler,
               round(CASE WHEN coalesce(per.n_spans, 0) > 0
                          THEN per.n_boiler::DOUBLE / per.n_spans
                          ELSE 0.0 END, 6) AS boiler_frac
        FROM documents d LEFT JOIN per USING (doc_id)
      """)
    ),
    // Boilerplate REMOVAL — the rewrite half: drop every token covered by
    // a boilerplate span occurrence and reassemble the doc (declarative
    // filter/exists/transform HOF chain, no UDF).
    GQuery(
      "dedup_boilerplate_scrub",
      (spark, dir) =>
        Dedup.removeBoilerplate(
          t(spark, dir, "documents"), "doc_id", "text", n = 5, minDf = 2),
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        pos AS (SELECT doc_id,
                       unnest(generate_series(1, len(t) - 4)) AS i,
                       unnest(list_transform(generate_series(1, len(t) - 4),
                         i -> array_to_string(t[i:i+4], ' '))) AS sh
                FROM tok WHERE len(t) >= 5),
        boiler AS (SELECT sh
                   FROM (SELECT sh, count(DISTINCT doc_id) AS df
                         FROM pos GROUP BY sh)
                   WHERE df >= 2),
        starts AS (SELECT doc_id, list(i ORDER BY i) AS starts
                   FROM pos JOIN boiler USING (sh) GROUP BY doc_id),
        base AS (SELECT d.doc_id, string_split(d.text, ' ') AS t,
                        coalesce(s.starts, []::BIGINT[]) AS starts
                 FROM documents d LEFT JOIN starts s ON d.doc_id = s.doc_id),
        kept AS (SELECT doc_id, t,
                        list_filter(generate_series(1, len(t)),
                          i -> len(list_filter(starts,
                                 j -> i >= j AND i < j + 5)) = 0) AS kept
                 FROM base)
        SELECT doc_id,
               coalesce(array_to_string(list_transform(kept, i -> t[i]), ' '),
                        '') AS clean_text,
               len(kept)::BIGINT AS n_kept,
               (len(t) - len(kept))::BIGINT AS n_removed
        FROM kept
      """)
    ),
    // Repetition quality signals (the Gopher-rule family): top-bigram
    // coverage and duplicate-trigram fraction per document.
    GQuery(
      "text_repetition",
      (spark, dir) =>
        TextAnalysis.repetitionStats(t(spark, dir, "documents"), "doc_id", "text"),
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        bg AS (SELECT doc_id,
                      unnest(list_transform(generate_series(1, len(t) - 1),
                        i -> array_to_string(t[i:i+1], ' '))) AS g
               FROM tok WHERE len(t) >= 2),
        bc AS (SELECT doc_id, max(c) AS top_c
               FROM (SELECT doc_id, g, count(*) AS c FROM bg
                     GROUP BY doc_id, g)
               GROUP BY doc_id),
        tg AS (SELECT doc_id,
                      unnest(list_transform(generate_series(1, len(t) - 2),
                        i -> array_to_string(t[i:i+2], ' '))) AS g
               FROM tok WHERE len(t) >= 3),
        tc AS (SELECT doc_id, count(*) AS total,
                      count(DISTINCT g) AS dist
               FROM tg GROUP BY doc_id)
        SELECT tok.doc_id,
               len(tok.t)::BIGINT AS n_tokens,
               round(coalesce(2.0 * bc.top_c / len(tok.t), 0.0), 6)
                 AS top_bigram_frac,
               round(coalesce(1.0 - tc.dist::DOUBLE / tc.total, 0.0), 6)
                 AS dup_trigram_frac
        FROM tok
        LEFT JOIN bc ON bc.doc_id = tok.doc_id
        LEFT JOIN tc ON tc.doc_id = tok.doc_id
      """)
    ),
    // Sliding-window chunking — documents to (overlapping) fixed-size
    // token windows, the step before embedding/packing. Pure per-row
    // explode, zero shuffle.
    GQuery(
      "pipeline_chunk",
      (spark, dir) =>
        Packing.chunk(
          t(spark, dir, "documents"), "doc_id", "text", chunkSize = 32, stride = 16),
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        s AS (SELECT doc_id, t, unnest(generate_series(1, len(t), 16)) AS s
              FROM tok)
        SELECT doc_id,
               ((s - 1) // 16)::BIGINT AS chunk_id,
               (s - 1)::BIGINT AS start,
               least(32, len(t) - s + 1)::BIGINT AS n_chunk_tokens,
               array_to_string(t[s:s+31], ' ') AS chunk_text
        FROM s
      """)
    ),
    // Concat-and-chunk packing offsets — documents laid end to end in
    // doc_id order; offset = global token position, pack_id = the ctx-512
    // training sequence the doc starts in. The running sum is a
    // distributed prefix sum (range partitions + per-partition totals +
    // within-partition window), NOT a single-partition global window.
    GQuery(
      "pipeline_pack",
      (spark, dir) =>
        Packing.packOffsets(
          t(spark, dir, "documents"), "doc_id", "text", ctx = 512),
      Some("""
        WITH nt AS (SELECT doc_id,
                           len(string_split(text, ' '))::BIGINT AS n_tokens
                    FROM documents),
        c AS (SELECT doc_id, n_tokens,
                     coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT AS "offset"
              FROM nt)
        SELECT doc_id, n_tokens, "offset", ("offset" // 512)::BIGINT AS pack_id
        FROM c
      """)
    ),
    // No-split packing (the SFT regime): next-fit-decreasing bins per
    // language — docs sorted (tokens desc, id), walked once, a new
    // ctx-512 bin opened when the next doc no longer fits. Examples never
    // straddle a pack boundary (pipeline_pack's concat-and-chunk would
    // split them). The walk is sequential per group by construction —
    // parallelism is across groups, production packing's actual shape —
    // and deterministic, so the DuckDB oracle replays it with a
    // recursive CTE row by row.
    GQuery(
      "pipeline_binpack",
      (spark, dir) =>
        Packing.binPack(
          t(spark, dir, "documents"), "lang", "doc_id", "text", ctx = 512)
          .select(
            col("group").as("grp"), col("doc_id"), col("n_tokens"),
            col("bin"), col("fill")),
      Some("""
        WITH RECURSIVE
        d AS (SELECT lang, doc_id,
                     len(string_split(text, ' '))::BIGINT AS n_tok
              FROM documents),
        rk AS (SELECT lang, doc_id, n_tok,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY n_tok DESC, doc_id) AS r
               FROM d),
        walk(lang, r, doc_id, n_tok, bin, fill) AS (
          SELECT lang, r, doc_id, n_tok, 0::BIGINT, n_tok
          FROM rk WHERE r = 1
          UNION ALL
          SELECT rk.lang, rk.r, rk.doc_id, rk.n_tok,
                 CASE WHEN w.fill + rk.n_tok <= 512
                      THEN w.bin ELSE w.bin + 1 END,
                 CASE WHEN w.fill + rk.n_tok <= 512
                      THEN w.fill + rk.n_tok ELSE rk.n_tok END
          FROM walk w JOIN rk ON rk.lang = w.lang AND rk.r = w.r + 1
        )
        SELECT lang AS grp, doc_id, n_tok AS n_tokens, bin, fill FROM walk
      """)
    ),
    // The COMPLETE pipeline in one plan — what a user actually submits:
    // drop eval-contaminated docs, keep near-dup cluster representatives,
    // gate on quality + repetition, and pack the survivors into ctx-512
    // training sequences. Composes decontaminate → simhashPairs →
    // connectedComponents → qualityScore → repetitionStats → packOffsets;
    // the oracle mirrors every stage (incl. the recursive-CTE closure) so
    // the entire composition is hash-checked end to end.
    GQuery(
      "pipeline_full",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val train = docs.filter(col("doc_id") % 50 =!= 0)
        val evalSet = docs.filter(col("doc_id") % 50 === 0)
        // the cleaned corpus and the dedup survivors are natural stage
        // boundaries with many downstream consumers each — materialize
        // once (eager, ContextCleaner-freed) instead of re-running the
        // decontamination join / CC fixpoint per consumer
        val clean = train.join(
          Dedup.decontaminate(train, evalSet, "doc_id", "text", n = 5)
            .filter(!col("contaminated")).select(col("doc_id")),
          "doc_id")
          .localCheckpoint()
        val reps = Dedup.connectedComponents(
          Dedup.simhashPairs(clean, "doc_id", "text", maxHamming = 3),
          "doc_a", "doc_b")
        val kept = clean
          .join(reps, Seq("doc_id"), "left")
          .filter(coalesce(col("rep_id"), col("doc_id")) === col("doc_id"))
          .select(col("doc_id"), col("text"))
          .localCheckpoint()
        val quality = TextAnalysis.qualityScore(kept, "doc_id", "text")
        val sel = kept
          .join(quality, "doc_id")
          .filter(col("quality") >= 0.5)
          .join(
            TextAnalysis.repetitionStats(kept, "doc_id", "text")
              .select(col("doc_id"), col("top_bigram_frac")),
            "doc_id")
          .filter(col("top_bigram_frac") <= 0.2)
        Packing.packOffsets(sel, "doc_id", "text", ctx = 512)
          .join(quality, "doc_id")
          .select(
            col("doc_id"), col("quality"), col("n_tokens"),
            col("offset"), col("pack_id")
          )
      },
      Some("""
        WITH RECURSIVE
        tokall AS (SELECT doc_id, string_split(text, ' ') AS t
                   FROM documents),
        ng AS (SELECT doc_id,
                      unnest(list_distinct(list_transform(
                        generate_series(1, len(t) - 4),
                        i -> array_to_string(t[i:i+4], ' ')))) AS sh
               FROM tokall WHERE len(t) >= 5),
        ev AS (SELECT DISTINCT sh FROM ng WHERE doc_id % 50 = 0),
        contam AS (SELECT DISTINCT ng.doc_id
                   FROM ng JOIN ev USING (sh)
                   WHERE ng.doc_id % 50 != 0),
        clean AS (SELECT doc_id, text FROM documents
                  WHERE doc_id % 50 != 0
                    AND doc_id NOT IN (SELECT doc_id FROM contam)),
        w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM clean),
        h AS (SELECT doc_id,
                     ((CASE WHEN xh >= 2147483648 THEN xh - 4294967296
                            ELSE xh END) * 4294967296 + xl)::BIGINT AS x
              FROM (SELECT doc_id,
                           ('0x' || substr(md5(w), 1, 8))::BIGINT AS xh,
                           ('0x' || substr(md5(w), 9, 8))::BIGINT AS xl
                    FROM w)),
        s AS (SELECT doc_id, b,
                     sum(CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
              GROUP BY doc_id, b),
        sig AS (SELECT doc_id,
                       sum(CASE WHEN s >= 0 THEN
                     CASE WHEN b = 63 THEN -9223372036854775807 - 1
                          ELSE 1::BIGINT << b END ELSE 0 END)::BIGINT
                         AS simhash
                FROM s GROUP BY doc_id),
        sig2 AS (SELECT doc_id, simhash,
                        simhash & 65535 AS b0,
                        (simhash >> 16) & 65535 AS b1,
                        (simhash >> 32) & 65535 AS b2,
                        (simhash >> 48) & 65535 AS b3
                 FROM sig),
        cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.simhash AS sa, b.simhash AS sb
                 FROM sig2 a JOIN sig2 b
                   ON a.b0 = b.b0 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b1 = b.b1 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b2 = b.b2 AND a.doc_id < b.doc_id
                 UNION
                 SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                 FROM sig2 a JOIN sig2 b
                   ON a.b3 = b.b3 AND a.doc_id < b.doc_id),
        pr AS (SELECT doc_a, doc_b FROM cand
               WHERE bit_count(xor(sa, sb)) <= 3),
        ed AS (SELECT doc_a AS a, doc_b AS b FROM pr
               UNION SELECT doc_b, doc_a FROM pr),
        reach(id, r) AS (
          SELECT a, a FROM ed
          UNION
          SELECT ed.a, reach.r FROM ed JOIN reach ON reach.id = ed.b),
        comps AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
        kept AS (SELECT c.doc_id, c.text
                 FROM clean c LEFT JOIN comps ON comps.id = c.doc_id
                 WHERE coalesce(comps.rep, c.doc_id) = c.doc_id),
        tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM kept),
        f AS (SELECT doc_id,
                     len(t)::DOUBLE AS n,
                     len(list_filter(t, x -> x IN
                       ('the','a','of','to','and','in','is','for')))::DOUBLE
                       / len(t) AS stop_ratio,
                     len(list_distinct(t))::DOUBLE / len(t) AS diversity
              FROM tok),
        q AS (SELECT doc_id,
                     round(0.4::DOUBLE * least(1.0::DOUBLE, n / 50.0::DOUBLE)
                           + 0.3::DOUBLE * stop_ratio
                           + 0.3::DOUBLE * diversity, 6) AS quality
              FROM f),
        bg AS (SELECT doc_id,
                      unnest(list_transform(generate_series(1, len(t) - 1),
                        i -> array_to_string(t[i:i+1], ' '))) AS g
               FROM tok WHERE len(t) >= 2),
        bc AS (SELECT doc_id, max(c) AS top_c
               FROM (SELECT doc_id, g, count(*) AS c FROM bg
                     GROUP BY doc_id, g)
               GROUP BY doc_id),
        sel AS (SELECT tok.doc_id, q.quality,
                       len(tok.t)::BIGINT AS n_tokens
                FROM tok
                JOIN q ON q.doc_id = tok.doc_id
                LEFT JOIN bc ON bc.doc_id = tok.doc_id
                WHERE q.quality >= 0.5
                  AND round(coalesce(2.0 * bc.top_c / len(tok.t), 0.0), 6)
                        <= 0.2),
        c AS (SELECT doc_id, quality, n_tokens,
                     coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT AS "offset"
              FROM sel)
        SELECT doc_id, quality, n_tokens, "offset",
               ("offset" // 512)::BIGINT AS pack_id
        FROM c
      """)
    ),
    // Source mixing with per-source caps — the "source weights" step:
    // within each source, keep the top-N docs by quality (doc_id
    // tie-break), N varying by source (trusted sources get more; caps
    // Zipf-law fit — the one-row corpus-health diagnostic: least-squares
    // slope/intercept of ln(freq) vs ln(rank) over the top-100 token
    // ranks (natural text ≈ −1; templated or synthetic corpora drift).
    // One vocabulary aggregation + distributedRank, then a bounded
    // 100-row regression with decimal-exact sums.
    GQuery(
      "text_zipf",
      (spark, dir) =>
        graft.operators.TextAnalysis
          .zipfFit(t(spark, dir, "documents"), "text", topN = 100)
          .select(
            col("n"),
            round(col("slope"), 6).as("slope"),
            round(col("intercept"), 6).as("intercept")),
      Some("""
        WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
                   FROM documents),
        tf AS (SELECT w, count(*)::BIGINT AS c FROM w
               WHERE w <> '' GROUP BY w),
        rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rnk
               FROM tf),
        top AS (SELECT ln(rnk::DOUBLE) AS x, ln(c::DOUBLE) AS y
                FROM rk WHERE rnk <= 100),
        s AS (SELECT count(*)::BIGINT AS n,
                     sum(x::DECIMAL(38,20))::DOUBLE AS sx,
                     sum(y::DECIMAL(38,20))::DOUBLE AS sy,
                     sum((x*y)::DECIMAL(38,20))::DOUBLE AS sxy,
                     sum((x*x)::DECIMAL(38,20))::DOUBLE AS sxx
              FROM top)
        SELECT n,
               round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
               round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n,
                     6) AS intercept
        FROM s
      """)
    ),
    // DSIR (Xie et al. 2023) — importance resampling toward a target
    // distribution: hashed unigram+bigram bucket LMs of the target slice
    // (source = 'src0') and the raw corpus, per-doc log importance
    // weight as a decimal-exact sum of B-row log-ratio terms, then the
    // paper's Gumbel top-k resample without replacement made
    // deterministic with the md5 coin. The bucket LMs are two 512-row
    // aggregates (broadcastable at any corpus size), scoring is one
    // feature-stream join against the broadcast ratio table, selection a
    // bounded TakeOrdered head. ln is bit-identical across engines (the
    // text_perplexity precedent), so the whole selection hash-checks.
    GQuery(
      "pipeline_dsir",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        graft.operators.Dsir
          .resample(
            docs, docs.filter(col("source") === "src0"),
            "doc_id", "text", n = 100, buckets = 512)
          .select(
            col("doc_id"),
            round(col("logw"), 6).as("logw"),
            round(col("sel_key"), 6).as("sel_key"),
            col("rnk"))
      },
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        feat AS (SELECT doc_id, unnest(t) AS f FROM tok
                 UNION ALL
                 SELECT doc_id,
                        unnest(list_transform(generate_series(1, len(t)-1),
                               i -> t[i] || ' ' || t[i+1])) AS f
                 FROM tok WHERE len(t) >= 2),
        fb AS (SELECT doc_id,
                      ('0x' || substr(md5(f), 1, 14))::BIGINT % 512 AS b
               FROM feat),
        ctt AS (SELECT b, count(*)::BIGINT AS ct
                FROM fb JOIN documents USING (doc_id)
                WHERE source = 'src0' GROUP BY b),
        crt AS (SELECT b, count(*)::BIGINT AS cr FROM fb GROUP BY b),
        tt AS (SELECT count(*)::BIGINT AS tt
               FROM fb JOIN documents USING (doc_id) WHERE source = 'src0'),
        rt AS (SELECT count(*)::BIGINT AS rt FROM fb),
        lb AS (SELECT g.b,
                      ln((coalesce(ct, 0) + 1)::DOUBLE / (tt + 512)::DOUBLE)
                        - ln((coalesce(cr, 0) + 1)::DOUBLE
                             / (rt + 512)::DOUBLE) AS term
               FROM (SELECT unnest(generate_series(0, 511)) AS b) g
               LEFT JOIN ctt USING (b) LEFT JOIN crt USING (b)
               CROSS JOIN tt CROSS JOIN rt),
        dw AS (SELECT fb.doc_id,
                      sum(term::DECIMAL(38,20))::DOUBLE AS lw
               FROM fb JOIN lb USING (b) GROUP BY fb.doc_id),
        w AS (SELECT d.doc_id, coalesce(dw.lw, 0.0::DOUBLE) AS logw
              FROM documents d LEFT JOIN dw ON dw.doc_id = d.doc_id),
        k AS (SELECT doc_id, logw,
                     logw + -ln(-ln(
                       ((('0x' || substr(md5(doc_id::VARCHAR || ':dsir'),
                            1, 14))::BIGINT % 1000003)::DOUBLE + 0.5)
                         / 1000003.0)) AS sel_key
              FROM w),
        r AS (SELECT doc_id, logw, sel_key,
                     row_number() OVER (ORDER BY sel_key DESC, doc_id)
                       AS rnk
              FROM k)
        SELECT doc_id, round(logw, 6) AS logw,
               round(sel_key, 6) AS sel_key, rnk
        FROM r WHERE rnk <= 100
      """)
    ),
    // bite at every test scale factor so the filter discriminates). One
    // rank window per source partition — the same single-shuffle shape
    // as pipeline_budget, keyed on source instead of language.
    GQuery(
      "pipeline_mix",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(spark, dir, "documents")
        val quality = TextAnalysis.qualityScore(docs, "doc_id", "text")
        val cap = when(col("source") === "src0", lit(15)).otherwise(lit(8))
        val w = Window
          .partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id"))
        docs
          .select(col("doc_id"), col("source"))
          .join(quality, "doc_id")
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= cap)
          .select(
            col("source"), col("doc_id"), col("quality"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some("""
        WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS t
                     FROM documents),
        f AS (SELECT doc_id, source,
                     len(t)::DOUBLE AS n,
                     len(list_filter(t, x -> x IN
                       ('the','a','of','to','and','in','is','for')))::DOUBLE
                       / len(t) AS stop_ratio,
                     len(list_distinct(t))::DOUBLE / len(t) AS diversity
              FROM tok),
        q AS (SELECT doc_id, source,
                     round(0.4::DOUBLE * least(1.0::DOUBLE, n / 50.0::DOUBLE)
                           + 0.3::DOUBLE * stop_ratio
                           + 0.3::DOUBLE * diversity, 6) AS quality
              FROM f),
        r AS (SELECT source, doc_id, quality,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY quality DESC, doc_id) AS rnk
              FROM q)
        SELECT source, doc_id, quality, rnk
        FROM r
        WHERE rnk <= CASE WHEN source = 'src0' THEN 15 ELSE 8 END
      """)
    ),
    // D11: corpus token histogram (top 20 by count).
    GQuery(
      "text_token_histogram",
      (spark, dir) =>
        t(spark, dir, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token"))
          .limit(20),
      Some("""
        SELECT w AS token, count(*)::BIGINT AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w ORDER BY cnt DESC, token LIMIT 20
      """)
    ),
    // Vocabulary build: every corpus token with its count and a contiguous
    // deterministic id (frequency-ranked, ties on the token string) — the
    // tokenizer-training precursor. The global rank window runs AFTER the
    // count aggregation, so it orders the vocab table (tiny next to the
    // corpus), never the token stream.
    GQuery(
      "text_vocab",
      (spark, dir) =>
        // token_id = global frequency rank, assigned by the DISTRIBUTED
        // prefix-sum rank (range partitions + per-partition counts +
        // within-partition row_number) — a global Window.orderBy would
        // collapse the vocabulary into one partition, which only looks
        // harmless until the corpus is a web crawl
        graft.operators.Packing.distributedRank(
          t(spark, dir, "documents")
            .select(explode(split(col("text"), " ")).as("token"))
            .groupBy(col("token"))
            .agg(count(lit(1)).as("cnt")),
          Seq(col("cnt").desc, col("token")),
          "token_id"
        ),
      Some("""
        SELECT w AS token, count(*)::BIGINT AS cnt,
               (row_number() OVER (ORDER BY count(*) DESC, w) - 1)::BIGINT
                 AS token_id
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w
      """)
    ),
    // BPE tokenizer TRAINING (Sennrich 2016): the corpus-sized pass is
    // one distributed word-count hash agg; the merge loop runs over the
    // weighted vocabulary. The loop is greedy but DETERMINISTIC (ties
    // break lexicographically), so DuckDB replays it as a recursive CTE:
    // each round's working table is the rewritten vocabulary, the best
    // pair is an aggregate subquery over the previous round (DuckDB
    // recursive refs see exactly the prior iteration), and the greedy
    // left-to-right non-overlap rewrite is the kept-position calculus —
    // merge position p survives iff the run of consecutive matched
    // positions immediately before it has even length.
    GQuery(
      "text_bpe_train",
      (spark, dir) =>
        TextAnalysis.bpeMerges(
          t(spark, dir, "documents"), "text", numMerges = 24),
      Some(bpeRecursiveCte + """
        SELECT DISTINCT (rank - 1)::INTEGER AS merge_rank, ml AS "left",
               mr AS "right", mc AS pair_count
        FROM t WHERE rank >= 1
      """)
    ),
    // Encoding under the learned merges: per-doc word/token counts + a
    // rolling fingerprint of the token stream. The oracle reuses the
    // training recursion's FINAL vocabulary state (applying the merge
    // list to the corpus it was learned from IS the last round's
    // rewrite), then replays the two-level hash exactly: Java
    // String.hashCode per token (31-polynomial over chars, wrapped to
    // signed 32-bit each step) folded doc-wide mod 1e9+7 in word order.
    GQuery(
      "text_bpe_encode",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val ms = TextAnalysis
          .bpeMerges(docs, "text", numMerges = 24)
          .orderBy(col("merge_rank"))
          .collect()
          .map(r => (r.getString(1), r.getString(2)))
          .toSeq
        TextAnalysis.bpeEncode(docs, "doc_id", "text", ms)
      },
      Some(bpeRecursiveCte + """,
        final AS (SELECT w, syms FROM t WHERE rank = (SELECT max(rank) FROM t)),
        dw AS (SELECT doc_id, i, tl[i] AS w
               FROM (SELECT doc_id, string_split(text, ' ') AS tl
                     FROM documents),
                    unnest(generate_series(1, len(tl))) AS g(i)
               WHERE tl[i] <> ''),
        enc AS (SELECT dw.doc_id, dw.i, f.syms FROM dw JOIN final f USING (w)),
        hcs AS (SELECT doc_id, i,
                       list_transform(syms, s ->
                         list_reduce(
                           list_prepend(0::BIGINT,
                             list_transform(generate_series(1, length(s)),
                               j -> unicode(s[j])::BIGINT)),
                           (a, u) -> ((a * 31 + u + 2147483648) % 4294967296
                                      + 4294967296) % 4294967296
                                     - 2147483648))
                         AS hl,
                       len(syms)::BIGINT AS ntok
                FROM enc),
        agg AS (SELECT doc_id,
                       count(*)::BIGINT AS n_words,
                       sum(ntok)::BIGINT AS n_tokens,
                       list_reduce(
                         list_prepend(0::BIGINT,
                           flatten(list(hl ORDER BY i))),
                         (acc, x) -> (acc * 31 + x) % 1000000007)
                         AS tokens_hash
                FROM hcs GROUP BY doc_id)
        SELECT d.doc_id, coalesce(a.n_words, 0)::BIGINT AS n_words,
               coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
               coalesce(a.tokens_hash, 0)::BIGINT AS tokens_hash
        FROM documents d LEFT JOIN agg a USING (doc_id)
      """)
    ),
    // GloVe-style windowed co-occurrence counts (Pennington et al. 2014
    // §3: X_ij accumulated with 1/distance weighting inside a ±w token
    // window) — the embedding-training-prep stage upstream of any factor
    // model. The window pairing is an EQUI-join on (doc, pos + delta)
    // with delta exploded 1..w, so pair volume is tokens×w, never a
    // per-doc quadratic join (the q32 bucket move in token-position
    // space). Weights route through DECIMAL(30,6) so the sum is
    // order-free and engine-exact; output = top-200 directed pairs,
    // total (x desc, ta, tb) order.
    GQuery(
      "text_cooccurrence",
      (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val w = 5
        val pt = t(spark, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .select(col("doc_id"),
            posexplode(col("t")).as(Seq("p0", "tok")))
          .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"), col("tok"))
        val pairs = pt
          .filter(col("tok") =!= "")
          .select(col("doc_id"), col("p"), col("tok").as("ta"),
            explode(expr(s"sequence(1, $w)")).as("delta"))
          .select(col("doc_id"), (col("p") + col("delta")).as("p"),
            col("ta"), col("delta"))
          .join(
            pt.filter(col("tok") =!= "").select(
              col("doc_id"), col("p"), col("tok").as("tb")),
            Seq("doc_id", "p"))
        pairs
          .groupBy(col("ta"), col("tb"))
          .agg(
            sum((lit(1.0) / col("delta").cast("double"))
              .cast(DecimalType(30, 6))).cast("double").as("x"),
            count(lit(1)).as("n"))
          .orderBy(col("x").desc, col("ta"), col("tb"))
          .limit(200)
          .select(col("ta"), col("tb"), round(col("x"), 6).as("x"), col("n"))
      },
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        pp AS (SELECT doc_id,
                      unnest(generate_series(1, len(t)))::BIGINT AS p, t
               FROM tok),
        pt AS (SELECT doc_id, p, t[p::INT] AS tok FROM pp),
        d AS (SELECT unnest(generate_series(1, 5))::BIGINT AS delta),
        pr AS (SELECT a.tok AS ta, b.tok AS tb,
                      (1.0/d.delta)::DECIMAL(30,6) AS w
               FROM pt a CROSS JOIN d
               JOIN pt b ON b.doc_id = a.doc_id AND b.p = a.p + d.delta
               WHERE a.tok <> '' AND b.tok <> ''),
        x AS (SELECT ta, tb, sum(w)::DOUBLE AS x, count(*)::BIGINT AS n
              FROM pr GROUP BY ta, tb)
        SELECT ta, tb, round(x, 6) AS x, n FROM x
        ORDER BY x DESC, ta, tb LIMIT 200
      """)
    ),
    // PMI collocations: bigram lift c_xy·N²/(B·c_x·c_y) over exact
    // counts — rank-equivalent to PMI (log is monotone) with the score a
    // deterministic double both engines compute identically. Two hash
    // aggs + broadcast unigram joins; linear in corpus tokens.
    GQuery(
      "text_collocations",
      (spark, dir) =>
        TextAnalysis.collocations(
          t(spark, dir, "documents"), "text", minCount = 5),
      Some("""
        WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
        uni AS (SELECT unnest(t) AS w FROM tok),
        ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
        tot AS (SELECT (SELECT count(*) FROM uni) AS n_tok),
        bg AS (SELECT unnest(list_transform(
                 generate_series(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1])) AS bigram
               FROM tok WHERE len(t) >= 2),
        btot AS (SELECT count(*) AS n_bg FROM bg),
        bcnt AS (SELECT bigram, count(*) AS n_pair FROM bg
                 GROUP BY bigram HAVING count(*) >= 5)
        SELECT b.bigram, b.n_pair::BIGINT AS n_pair,
               round(b.n_pair::DOUBLE * t.n_tok * t.n_tok /
                     (bt.n_bg::DOUBLE * u1.c * u2.c), 6) AS lift
        FROM bcnt b
        JOIN ucnt u1 ON u1.w = string_split(b.bigram, ' ')[1]
        JOIN ucnt u2 ON u2.w = string_split(b.bigram, ' ')[2]
        CROSS JOIN tot t CROSS JOIN btot bt
      """)
    ),
    // D11 sketch path, frequent-items edition: Misra-Gries heavy hitters
    // (graft_topfreq, a native TypedImperativeAggregate with O(capacity)
    // buffers and partial aggregation — the sketch that finds frequent
    // tokens at 100 TB without a vocabulary-wide groupBy). Same
    // construction as q25/q26: the OUTPUT is the exact top-10 (portable
    // oracle), and the sketch has a correctness role through the filter —
    // every top token must appear in the summary with its self-validating
    // bound est <= cnt <= est + dec intact, else rows drop and the hash
    // breaks. Capacity 64 >= the corpus vocabulary, so the summary is
    // provably exact here (dec = 0 across every merge tree); the lossy
    // regime (capacity < vocab, skewed data) is gated by TopFreqSpec.
    GQuery(
      "text_heavy_hitters",
      (spark, dir) => {
        import graft.functions.TopFreqAgg.topFreq
        val toks = t(spark, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
        val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        val top = exact.orderBy(col("cnt").desc, col("tok")).limit(10)
        val mg = toks
          .agg(topFreq(col("tok"), 64).as("s"))
          .select(col("s.dec").as("dec"), explode(col("s.items")).as("it"))
          .select(col("dec"), col("it.tok").as("tok"), col("it.est").as("est"))
        top
          .join(broadcast(mg), Seq("tok"), "left")
          .filter(
            col("est").isNotNull &&
              col("est") <= col("cnt") &&
              col("cnt") - col("est") <= col("dec"))
          .select(col("tok"), col("cnt"))
      },
      Some("""
        WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
                      FROM documents)
        SELECT tok, count(*)::BIGINT AS cnt
        FROM toks WHERE tok <> ''
        GROUP BY tok ORDER BY cnt DESC, tok LIMIT 10
      """)
    ),
    // D11 sketch path, point-query edition: a count-min sketch (Cormode &
    // Muthukrishnan 2005) spelled as relational algebra — the d×w counter
    // matrix IS a (row, bucket) groupBy count table, so it inherits
    // partial aggregation, mergeability (counts add) and bounded state
    // (d·w cells regardless of corpus size) from the engine instead of a
    // custom buffer. Hashes are md5-derived (engine-portable), so the
    // whole sketch is deterministic and the OUTPUT — per-token exact vs
    // CMS estimate for the exact top-20 — sits under a full DuckDB
    // replay, pinning the one-sided error est >= exact in the hash
    // itself. The lossy-regime bound (est - exact <= overcount) is gated
    // in TopFreqSpec alongside the Misra-Gries twin.
    GQuery(
      "text_cms",
      (spark, dir) => {
        val d = 4
        val wW = 512
        val js = expr(s"array(${(0 until d).mkString(",")})")
        def bucket(j: org.apache.spark.sql.Column, tok: org.apache.spark.sql.Column) =
          pmod(Dedup.md5Long(concat(j.cast("string"), lit(":"), tok)), lit(wW))
        val toks = t(spark, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
        // the bucket is a function of (j, tok) alone, so hash the
        // VOCAB-SIZED count table instead of the token stream: one
        // corpus aggregation, then d·|vocab| md5s (not d·|stream|) —
        // bucket counts sum identically, output bit-unchanged
        val tokCounts = toks
          .groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
        val sketch = tokCounts
          .select(explode(js).as("j"), col("tok"), col("exact_n"))
          .select(col("j"), bucket(col("j"), col("tok")).as("b"),
            col("exact_n"))
          .groupBy(col("j"), col("b"))
          .agg(sum(col("exact_n")).as("c"))
        val top = tokCounts
          .orderBy(col("exact_n").desc, col("tok")).limit(20)
        top
          .select(col("tok"), col("exact_n"), explode(js).as("j"))
          .select(col("tok"), col("exact_n"), col("j"),
            bucket(col("j"), col("tok")).as("b"))
          .join(sketch, Seq("j", "b"))
          .groupBy(col("tok"), col("exact_n"))
          .agg(min(col("c")).as("est_n"))
      },
      Some("""
        WITH t2 AS (SELECT unnest(string_split(text, ' ')) AS tok
                    FROM documents),
        toks AS (SELECT tok FROM t2 WHERE tok <> ''),
        jj AS (SELECT unnest([0, 1, 2, 3]) AS j),
        sketch AS (SELECT j,
                          ('0x' || substr(md5(j::VARCHAR || ':' || tok),
                            1, 14))::BIGINT % 512 AS b,
                          count(*) AS c
                   FROM toks CROSS JOIN jj GROUP BY 1, 2),
        top AS (SELECT tok, count(*) AS exact_n FROM toks
                GROUP BY tok ORDER BY exact_n DESC, tok LIMIT 20),
        probes AS (SELECT tok, exact_n, j,
                          ('0x' || substr(md5(j::VARCHAR || ':' || tok),
                            1, 14))::BIGINT % 512 AS b
                   FROM top CROSS JOIN jj)
        SELECT p.tok, p.exact_n::BIGINT AS exact_n, min(s.c)::BIGINT AS est_n
        FROM probes p JOIN sketch s USING (j, b)
        GROUP BY p.tok, p.exact_n
      """)
    ),
    // Keyword retrieval: Okapi BM25 top-20 for a 4-term query — inverted-
    // index algebra as dataflow (postings filtered to the query terms
    // before any shuffle, df + corpus stats broadcast, TakeOrdered top-k).
    GQuery(
      "text_bm25",
      (spark, dir) =>
        graft.operators.TextSearch.bm25(
          t(spark, dir, "documents"),
          "doc_id", "text",
          Seq("vector", "hash", "stream", "query")
        ),
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM tok),
        stats AS (SELECT count(*)::BIGINT AS n,
                         (sum(dl::DECIMAL(30,6))::DOUBLE / count(*)) AS avgdl
                  FROM dl),
        tf AS (SELECT doc_id, w AS term, count(*)::BIGINT AS tf
               FROM (SELECT doc_id, unnest(t) AS w FROM tok)
               WHERE w IN ('vector','hash','stream','query')
               GROUP BY doc_id, w),
        df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        contrib AS (
          SELECT tf.doc_id,
                 ln(1 + (n - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
                   * (tf * (1.2::DOUBLE + 1))
                   / (tf + 1.2::DOUBLE
                        * (1 - 0.75::DOUBLE + 0.75::DOUBLE * dl / avgdl)) AS c
          FROM tf
          JOIN df USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats),
        scores AS (SELECT doc_id,
                          round(sum(c::DECIMAL(38,20))::DOUBLE, 6) AS score
                   FROM contrib GROUP BY doc_id),
        r AS (SELECT doc_id, score,
                     row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
              FROM scores)
        SELECT doc_id, score, rnk FROM r WHERE rnk <= 20
      """)
    ),
    // RM3 pseudo-relevance feedback (Lavrenko-Croft relevance models +
    // the RM3 interpolation): BM25 round 1, top-10 docs vote expansion
    // terms by p(t) = Σ tf/dl (decimal-routed, 6-rounded before
    // ranking), top-5 non-query terms re-enter at weight
    // (1-α)·p̂, originals keep α/|Q|, weighted BM25 round 2. The
    // expansion-term table is the k-row driver budget; both rounds are
    // the query-filtered postings shape. The whole two-round pipeline —
    // selection, normalizer, weights, final ranks — replays in one
    // oracle.
    GQuery(
      "text_rm3",
      (spark, dir) =>
        graft.operators.TextSearch.rm3(
          t(spark, dir, "documents"), "doc_id", "text",
          Seq("vector", "hash", "stream", "query"),
          kFb = 10, mExp = 5, alpha = 0.6),
      Some("""
        WITH tok AS MATERIALIZED (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        dl AS MATERIALIZED (
          SELECT doc_id, len(t)::BIGINT AS dl FROM tok),
        stats AS (SELECT count(*)::BIGINT AS n,
                         (sum(dl::DECIMAL(30,6))::DOUBLE / count(*)) AS avgdl
                  FROM dl),
        tf1 AS (SELECT doc_id, w AS term, count(*)::BIGINT AS tf
                FROM (SELECT doc_id, unnest(t) AS w FROM tok)
                WHERE w IN ('vector','hash','stream','query')
                GROUP BY doc_id, w),
        df1 AS (SELECT term, count(*)::BIGINT AS df FROM tf1 GROUP BY term),
        c1 AS (
          SELECT tf1.doc_id,
                 ln(1 + (n - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
                   * (tf * (1.2::DOUBLE + 1))
                   / (tf + 1.2::DOUBLE
                        * (1 - 0.75::DOUBLE + 0.75::DOUBLE * dl / avgdl)) AS c
          FROM tf1 JOIN df1 USING (term)
          JOIN dl ON tf1.doc_id = dl.doc_id
          CROSS JOIN stats),
        s1 AS (SELECT doc_id,
                      round(sum(c::DECIMAL(38,20))::DOUBLE, 6) AS score
               FROM c1 GROUP BY doc_id),
        fb AS MATERIALIZED (SELECT doc_id FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
                FROM s1) WHERE rnk <= 10),
        exp AS (
          SELECT term,
                 round(sum((tf::DOUBLE / dl)::DECIMAL(38,20))::DOUBLE, 6) AS p
          FROM (SELECT u.doc_id, d.dl, u.w AS term, count(*)::BIGINT AS tf
                FROM (SELECT doc_id, unnest(t) AS w FROM tok) u
                JOIN fb ON fb.doc_id = u.doc_id
                JOIN dl d ON d.doc_id = u.doc_id
                WHERE u.w NOT IN ('vector','hash','stream','query')
                GROUP BY u.doc_id, d.dl, u.w)
          GROUP BY term),
        sel5 AS MATERIALIZED (SELECT term, p FROM (
                 SELECT term, p,
                        row_number() OVER (ORDER BY p DESC, term) AS r
                 FROM exp) WHERE r <= 5),
        norm AS (SELECT sum(p::DECIMAL(18,6))::DOUBLE AS psum FROM sel5),
        wq AS MATERIALIZED (
          SELECT term, 0.6 / 4 AS wt
          FROM (VALUES ('vector'),('hash'),('stream'),('query')) q(term)
          UNION ALL
          SELECT term, (1.0 - 0.6) * (p / norm.psum) AS wt
          FROM sel5 CROSS JOIN norm),
        tf2 AS (SELECT doc_id, w AS term, count(*)::BIGINT AS tf
                FROM (SELECT doc_id, unnest(t) AS w FROM tok)
                WHERE w IN (SELECT term FROM wq)
                GROUP BY doc_id, w),
        df2 AS (SELECT term, count(*)::BIGINT AS df FROM tf2 GROUP BY term),
        c2 AS (
          SELECT tf2.doc_id,
                 wq.wt
                   * ln(1 + (n - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
                   * (tf * (1.2::DOUBLE + 1))
                   / (tf + 1.2::DOUBLE
                        * (1 - 0.75::DOUBLE + 0.75::DOUBLE * dl / avgdl)) AS c
          FROM tf2 JOIN df2 USING (term)
          JOIN wq ON wq.term = tf2.term
          JOIN dl ON tf2.doc_id = dl.doc_id
          CROSS JOIN stats),
        s2 AS (SELECT doc_id,
                      round(sum(c::DECIMAL(38,20))::DOUBLE, 6) AS score
               FROM c2 GROUP BY doc_id)
        SELECT doc_id, score, rnk FROM (
          SELECT doc_id, score,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
          FROM s2) WHERE rnk <= 20
      """)
    ),
    // The RM3 alpha-operating curve — retrieval's knob measured the way
    // the ANN families measure theirs (IVF nprobe / HNSW ef / RP-tree
    // spill / LSH radius): feedback + expansion-term selection run ONCE
    // (alpha-independent), one weighted round 2 per alpha in
    // {0.2, 0.6, 0.9} — expansion-dominant to near-pure-BM25.
    GQuery(
      "text_rm3_curve",
      (spark, dir) =>
        graft.operators.TextSearch.rm3Curve(
          t(spark, dir, "documents"), "doc_id", "text",
          Seq("vector", "hash", "stream", "query"),
          alphas = Seq(0.2, 0.6, 0.9), kFb = 10, mExp = 5),
      Some(s"""
        WITH tok AS MATERIALIZED (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        dl AS MATERIALIZED (
          SELECT doc_id, len(t)::BIGINT AS dl FROM tok),
        stats AS (SELECT count(*)::BIGINT AS n,
                         (sum(dl::DECIMAL(30,6))::DOUBLE / count(*)) AS avgdl
                  FROM dl),
        tf1 AS (SELECT doc_id, w AS term, count(*)::BIGINT AS tf
                FROM (SELECT doc_id, unnest(t) AS w FROM tok)
                WHERE w IN ('vector','hash','stream','query')
                GROUP BY doc_id, w),
        df1 AS (SELECT term, count(*)::BIGINT AS df FROM tf1 GROUP BY term),
        c1 AS (
          SELECT tf1.doc_id,
                 ln(1 + (n - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
                   * (tf * (1.2::DOUBLE + 1))
                   / (tf + 1.2::DOUBLE
                        * (1 - 0.75::DOUBLE + 0.75::DOUBLE * dl / avgdl)) AS c
          FROM tf1 JOIN df1 USING (term)
          JOIN dl ON tf1.doc_id = dl.doc_id
          CROSS JOIN stats),
        s1 AS (SELECT doc_id,
                      round(sum(c::DECIMAL(38,20))::DOUBLE, 6) AS score
               FROM c1 GROUP BY doc_id),
        fb AS MATERIALIZED (SELECT doc_id FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
                FROM s1) WHERE rnk <= 10),
        exp AS (
          SELECT term,
                 round(sum((tf::DOUBLE / dl)::DECIMAL(38,20))::DOUBLE, 6) AS p
          FROM (SELECT u.doc_id, d.dl, u.w AS term, count(*)::BIGINT AS tf
                FROM (SELECT doc_id, unnest(t) AS w FROM tok) u
                JOIN fb ON fb.doc_id = u.doc_id
                JOIN dl d ON d.doc_id = u.doc_id
                WHERE u.w NOT IN ('vector','hash','stream','query')
                GROUP BY u.doc_id, d.dl, u.w)
          GROUP BY term),
        sel5 AS MATERIALIZED (SELECT term, p FROM (
                 SELECT term, p,
                        row_number() OVER (ORDER BY p DESC, term) AS r
                 FROM exp) WHERE r <= 5),
        norm AS (SELECT sum(p::DECIMAL(18,6))::DOUBLE AS psum FROM sel5),
        wall AS MATERIALIZED (
          SELECT term, 0.6 / 4 AS wt0 FROM (VALUES ('vector'),('hash'),
            ('stream'),('query')) q(term)
          UNION ALL SELECT term, 0.0 FROM sel5),
        tf2 AS MATERIALIZED (
          SELECT doc_id, w AS term, count(*)::BIGINT AS tf
          FROM (SELECT doc_id, unnest(t) AS w FROM tok)
          WHERE w IN (SELECT term FROM wall)
          GROUP BY doc_id, w),
        df2 AS MATERIALIZED (
          SELECT term, count(*)::BIGINT AS df FROM tf2 GROUP BY term),
        cb AS MATERIALIZED (
          SELECT tf2.doc_id, tf2.term,
                 ln(1 + (n - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
                   * (tf * (1.2::DOUBLE + 1))
                   / (tf + 1.2::DOUBLE
                        * (1 - 0.75::DOUBLE + 0.75::DOUBLE * dl / avgdl)) AS c0
          FROM tf2 JOIN df2 USING (term)
          JOIN dl ON tf2.doc_id = dl.doc_id
          CROSS JOIN stats),
        ${Seq("0.2","0.6","0.9").zipWithIndex.map { case (a, i) => s"""
        wq$i AS (
          SELECT term, $a / 4 AS wt
          FROM (VALUES ('vector'),('hash'),('stream'),('query')) q(term)
          UNION ALL
          SELECT term, (1.0 - $a) * (p / norm.psum) AS wt
          FROM sel5 CROSS JOIN norm),
        s2$i AS (SELECT doc_id,
                      round(sum((cb.c0 * wq$i.wt)::DECIMAL(38,20))::DOUBLE, 6)
                        AS score
               FROM cb JOIN wq$i ON wq$i.term = cb.term
               GROUP BY doc_id),
        r$i AS (SELECT CAST($a AS DOUBLE) AS alpha, doc_id, score, rnk FROM (
          SELECT doc_id, score,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
          FROM s2$i) WHERE rnk <= 20)""" }.mkString(",")}
        SELECT alpha, doc_id, score, rnk FROM r0
        UNION ALL SELECT alpha, doc_id, score, rnk FROM r1
        UNION ALL SELECT alpha, doc_id, score, rnk FROM r2
      """)
    ),
    // Dirichlet query-likelihood ranking (Zhai & Lafferty 2004) — the
    // language-modeling retrieval scorer next to BM25's probabilistic
    // one, same query set: EVERY document scores (absent terms
    // contribute the smoothed background mass — the point of Dirichlet
    // smoothing), so the contribution table is |corpus| × |terms| rows:
    // the dl table cross joins the broadcast ≤|terms|-row stats table,
    // left-joins the query-filtered postings, one streaming pass. ln on
    // identical exact-ratio doubles, decimal-routed per-doc sums, score
    // rounded before ranking (the bm25 convention).
    GQuery(
      "text_qld",
      (spark, dir) =>
        graft.operators.TextSearch.queryLikelihood(
          t(spark, dir, "documents"),
          "doc_id", "text",
          Seq("vector", "hash", "stream", "query")
        ),
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM tok),
        ct AS (SELECT sum(dl)::BIGINT AS ctot FROM dl),
        tf AS (SELECT doc_id, w AS term, count(*)::BIGINT AS tf
               FROM (SELECT doc_id, unnest(t) AS w FROM tok)
               WHERE w IN ('vector','hash','stream','query')
               GROUP BY doc_id, w),
        cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM tf GROUP BY term),
        contrib AS (
          SELECT dl.doc_id,
                 ln((coalesce(tf.tf, 0) + 100.0::DOUBLE
                       * (cf.cf::DOUBLE / ct.ctot))
                    / (dl.dl + 100.0::DOUBLE)) AS c
          FROM dl CROSS JOIN ct CROSS JOIN cf
          LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = cf.term),
        scores AS (SELECT doc_id,
                          round(sum(c::DECIMAL(38,20))::DOUBLE, 6) AS score
                   FROM contrib GROUP BY doc_id),
        r AS (SELECT doc_id, score,
                     row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
              FROM scores)
        SELECT doc_id, score, rnk FROM r WHERE rnk <= 20
      """)
    ),
    // Interpolated Kneser-Ney bigram perplexity (Chen & Goodman 1999 —
    // the smoothing CCNet's KenLM filter models actually use): the
    // discounted bigram estimate backs off to the CONTINUATION unigram
    // (distinct contexts, not occurrences). Same scale shape as
    // text_perplexity; every count table derives from the bigram-type
    // aggregate, the type total is a 1-row broadcast.
    GQuery(
      "text_perplexity_kn",
      (spark, dir) =>
        graft.operators.TextAnalysis.perplexityKN(
          t(spark, dir, "documents"), "doc_id", "text"),
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        bg AS (SELECT doc_id,
                      unnest(list_transform(generate_series(1, len(t)-1),
                             i -> t[i])) AS w1,
                      unnest(list_transform(generate_series(1, len(t)-1),
                             i -> t[i+1])) AS w2
               FROM tok WHERE len(t) >= 2),
        cb AS (SELECT w1, w2, count(*)::BIGINT AS cb FROM bg GROUP BY w1, w2),
        cu AS (SELECT w1, count(*)::BIGINT AS cu FROM bg GROUP BY w1),
        n1r AS (SELECT w1, count(*)::BIGINT AS n1r FROM cb GROUP BY w1),
        n1l AS (SELECT w2, count(*)::BIGINT AS n1l FROM cb GROUP BY w2),
        nbt AS (SELECT count(*)::BIGINT AS nbt FROM cb),
        nll AS (SELECT bg.doc_id,
                       -ln((cb - 0.75::DOUBLE) / cu
                           + ((0.75::DOUBLE * n1r) / cu)
                             * (n1l::DOUBLE / nbt)) AS nll
                FROM bg
                JOIN cb USING (w1, w2)
                JOIN cu USING (w1)
                JOIN n1r USING (w1)
                JOIN n1l USING (w2)
                CROSS JOIN nbt),
        per AS (SELECT doc_id,
                       (sum(nll::DECIMAL(38,20))::DOUBLE / count(*))
                         AS nll_per_tok
                FROM nll GROUP BY doc_id)
        SELECT d.doc_id,
               round(nll_per_tok, 6) AS nll_per_tok,
               round(exp(nll_per_tok), 6) AS perplexity
        FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
      """)
    ),
    // Bigram-LM perplexity (CCNet-style quality signal): add-1/2-smoothed
    // bigram model trained on the corpus itself, every doc scored by
    // per-token NLL + perplexity. Only the (doc,w1,w2) position table is
    // corpus-sized; counts join on their own keys, V broadcasts.
    GQuery(
      "text_perplexity",
      (spark, dir) =>
        graft.operators.TextAnalysis.perplexity(
          t(spark, dir, "documents"), "doc_id", "text"),
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        bg AS (SELECT doc_id,
                      unnest(list_transform(generate_series(1, len(t)-1),
                             i -> t[i])) AS w1,
                      unnest(list_transform(generate_series(1, len(t)-1),
                             i -> t[i+1])) AS w2
               FROM tok WHERE len(t) >= 2),
        cb AS (SELECT w1, w2, count(*)::BIGINT AS cb FROM bg GROUP BY w1, w2),
        cu AS (SELECT w1, count(*)::BIGINT AS cu FROM bg GROUP BY w1),
        vocab AS (SELECT count(DISTINCT w)::BIGINT AS v
                  FROM (SELECT unnest(t) AS w FROM tok)),
        nll AS (SELECT bg.doc_id,
                       -ln((cb + 0.5::DOUBLE) / (cu + 0.5::DOUBLE * v)) AS nll
                FROM bg
                JOIN cb USING (w1, w2)
                JOIN cu USING (w1)
                CROSS JOIN vocab),
        per AS (SELECT doc_id,
                       (sum(nll::DECIMAL(38,20))::DOUBLE / count(*))
                         AS nll_per_tok
                FROM nll GROUP BY doc_id)
        SELECT d.doc_id,
               round(nll_per_tok, 6) AS nll_per_tok,
               round(exp(nll_per_tok), 6) AS perplexity
        FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
      """)
    ),
    // TF-IDF shingle cosine pairs: sparse lexical similarity as inverted-
    // file algebra — tf·idf-weighted 3-gram vectors, sparse dot = postings
    // self-join on the shingle. The df window
    // (2 <= df <= min(0.1·N, 10000)) is the scale move: df=1 can't pair,
    // high-df shingles are stopword-like AND quadratic in join fan-out;
    // the absolute cap bounds per-shingle fan-out independently of corpus
    // size (non-binding at test SFs, so results match the fractional
    // spelling there). Decimal-routed sums keep both engines
    // bit-identical.
    GQuery(
      "dedup_tfidf_pairs",
      (spark, dir) =>
        Dedup.tfidfPairs(
          t(spark, dir, "documents"), "doc_id", "text",
          n = 3, maxDfFraction = 0.1, maxDfAbs = 10000, tau = 0.4),
      Some(tfidfOracleSql)
    ),
    // Semantic decontamination — the third rung of the ladder (exact
    // n-gram -> fuzzy MinHash -> embedding cosine): training docs whose
    // embedding clears cosine 0.4 to any eval embedding (eval = every
    // 17th id; the threshold sits in the contaminated tail of this
    // near-random corpus — 5 flagged docs at sf0.01). Eval side
    // broadcasts (a benchmark is structurally small); train streams
    // through the codegen'd cosine filter, one pass, no train shuffle.
    GQuery(
      "pipeline_decontaminate_embedding",
      (spark, dir) => {
        import graft.functions.VectorFunctions.toDouble
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        Dedup.decontaminateEmbedding(
          emb.filter(col("vec_id") % 17 =!= 0),
          emb.filter(col("vec_id") % 17 === 0),
          "vec_id", "vec", tau = 0.4)
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        t AS (SELECT vec_id AS doc_id, ev AS tv FROM e WHERE vec_id % 17 <> 0),
        ex AS (SELECT vec_id AS eval_id, ev AS xv FROM e WHERE vec_id % 17 = 0),
        c AS (SELECT doc_id,
                     ${sqlDot("t.tv", "ex.xv")}
                       / (sqrt(${sqlDot("t.tv", "t.tv")})
                          * sqrt(${sqlDot("ex.xv", "ex.xv")})) AS cos
              FROM t CROSS JOIN ex),
        hits AS (SELECT doc_id, count(*)::BIGINT AS n_matches,
                        max(cos) AS max_cos
                 FROM c WHERE cos >= 0.4 GROUP BY doc_id)
        SELECT t.doc_id,
               coalesce(n_matches, 0) AS n_matches,
               round(max_cos, 6) AS max_cos,
               (coalesce(n_matches, 0) > 0) AS contaminated
        FROM t LEFT JOIN hits ON t.doc_id = hits.doc_id
      """)
    ),
    // Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical top-20
    // with the exact-vector top-20 for one query (terms + the embedding of
    // doc 7 — the tables are row-aligned, doc_id == vec_id). RRF uses only
    // the two rank columns, so the fused score is a sum of exact small-int
    // rationals — identical in both engines, no float hazard. Each side is
    // a bounded TakeOrdered head; the fusion joins two <=20-row tables.
    GQuery(
      "text_hybrid_rrf",
      (spark, dir) => {
        import graft.functions.VectorFunctions.toDouble
        val qv = t(spark, dir, "embeddings")
          .filter(col("vec_id") === 7)
          .select(toDouble(col("embedding")))
          .head().getSeq[Double](0).toArray
        graft.operators.TextSearch.hybridRrf(
          t(spark, dir, "documents"), "doc_id", "text",
          Seq("vector", "hash", "stream", "query"),
          t(spark, dir, "embeddings")
            .select(col("vec_id"), toDouble(col("embedding")).as("vec")),
          "vec_id", "vec", qv
        )
      },
      Some(s"""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM tok),
        stats AS (SELECT count(*)::BIGINT AS n,
                         (sum(dl::DECIMAL(30,6))::DOUBLE / count(*)) AS avgdl
                  FROM dl),
        tf AS (SELECT doc_id, w AS term, count(*)::BIGINT AS tf
               FROM (SELECT doc_id, unnest(t) AS w FROM tok)
               WHERE w IN ('vector','hash','stream','query')
               GROUP BY doc_id, w),
        df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        contrib AS (
          SELECT tf.doc_id,
                 ln(1 + (n - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
                   * (tf * (1.2::DOUBLE + 1))
                   / (tf + 1.2::DOUBLE
                        * (1 - 0.75::DOUBLE + 0.75::DOUBLE * dl / avgdl)) AS c
          FROM tf
          JOIN df USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats),
        scores AS (SELECT doc_id,
                          round(sum(c::DECIMAL(38,20))::DOUBLE, 6) AS score
                   FROM contrib GROUP BY doc_id),
        lex AS (SELECT doc_id, rnk AS lex_rnk FROM (
                  SELECT doc_id,
                         row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
                  FROM scores) WHERE rnk <= 20),
        qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
               WHERE vec_id = 7),
        vd AS (SELECT e.vec_id AS doc_id,
                      ${sqlL2Sq("(e.embedding::DOUBLE[])", "qv.qv")} AS dist
               FROM embeddings e CROSS JOIN qv),
        vec AS (SELECT doc_id, rnk AS vec_rnk FROM (
                  SELECT doc_id,
                         row_number() OVER (ORDER BY dist, doc_id) AS rnk
                  FROM vd) WHERE rnk <= 20),
        fused AS (SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
                         coalesce(1.0::DOUBLE / (60 + lex_rnk), 0)
                           + coalesce(1.0::DOUBLE / (60 + vec_rnk), 0) AS f,
                         lex_rnk, vec_rnk
                  FROM lex FULL JOIN vec ON lex.doc_id = vec.doc_id),
        r AS (SELECT doc_id, round(f, 6) AS rrf_score, lex_rnk, vec_rnk,
                     row_number() OVER (ORDER BY f DESC, doc_id) AS rnk
              FROM fused)
        SELECT * FROM r WHERE rnk <= 10
      """)
    ),
    // THREE-way reciprocal-rank fusion — the full retrieval stack fused:
    // BM25 (probabilistic lexical), Dirichlet query-likelihood (LM
    // lexical) and the exact dense ranking, all top-20, through the
    // generalized N-list rrfFuse. Only ranks enter (score-scale-free),
    // the fused value is a fixed-order sum of exact small-int rationals,
    // and the join chains three ≤20-row tables — corpus-independent.
    GQuery(
      "text_hybrid_rrf3",
      (spark, dir) => {
        import graft.functions.VectorFunctions.toDouble
        val terms = Seq("vector", "hash", "stream", "query")
        val docs = t(spark, dir, "documents")
        val qv = t(spark, dir, "embeddings")
          .filter(col("vec_id") === 7)
          .select(toDouble(col("embedding")))
          .head().getSeq[Double](0).toArray
        graft.operators.TextSearch.rrfFuse(Seq(
          "lex" -> graft.operators.TextSearch
            .bm25(docs, "doc_id", "text", terms, k = 20)
            .select(col("doc_id"), col("rnk")),
          "qld" -> graft.operators.TextSearch
            .queryLikelihood(docs, "doc_id", "text", terms, k = 20)
            .select(col("doc_id"), col("rnk")),
          "vec" -> graft.operators.TextSearch.vectorRanking(
            t(spark, dir, "embeddings")
              .select(col("vec_id"), toDouble(col("embedding")).as("vec")),
            "vec_id", "vec", qv, kEach = 20)))
      },
      Some(s"""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM tok),
        stats AS (SELECT count(*)::BIGINT AS n,
                         (sum(dl::DECIMAL(30,6))::DOUBLE / count(*)) AS avgdl
                  FROM dl),
        tf AS (SELECT doc_id, w AS term, count(*)::BIGINT AS tf
               FROM (SELECT doc_id, unnest(t) AS w FROM tok)
               WHERE w IN ('vector','hash','stream','query')
               GROUP BY doc_id, w),
        df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        contrib AS (
          SELECT tf.doc_id,
                 ln(1 + (n - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
                   * (tf * (1.2::DOUBLE + 1))
                   / (tf + 1.2::DOUBLE
                        * (1 - 0.75::DOUBLE + 0.75::DOUBLE * dl / avgdl)) AS c
          FROM tf
          JOIN df USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats),
        scores AS (SELECT doc_id,
                          round(sum(c::DECIMAL(38,20))::DOUBLE, 6) AS score
                   FROM contrib GROUP BY doc_id),
        lex AS (SELECT doc_id, rnk AS lex_rnk FROM (
                  SELECT doc_id,
                         row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
                  FROM scores) WHERE rnk <= 20),
        qct AS (SELECT sum(dl)::BIGINT AS ctot FROM dl),
        qcf AS (SELECT term, sum(tf)::BIGINT AS cf FROM tf GROUP BY term),
        qcontrib AS (
          SELECT dl.doc_id,
                 ln((coalesce(tf.tf, 0) + 100.0::DOUBLE
                       * (qcf.cf::DOUBLE / qct.ctot))
                    / (dl.dl + 100.0::DOUBLE)) AS c
          FROM dl CROSS JOIN qct CROSS JOIN qcf
          LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = qcf.term),
        qscores AS (SELECT doc_id,
                           round(sum(c::DECIMAL(38,20))::DOUBLE, 6) AS score
                    FROM qcontrib GROUP BY doc_id),
        qld AS (SELECT doc_id, rnk AS qld_rnk FROM (
                  SELECT doc_id,
                         row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
                  FROM qscores) WHERE rnk <= 20),
        qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
               WHERE vec_id = 7),
        vd AS (SELECT e.vec_id AS doc_id,
                      ${sqlL2Sq("(e.embedding::DOUBLE[])", "qv.qv")} AS dist
               FROM embeddings e CROSS JOIN qv),
        vec AS (SELECT doc_id, rnk AS vec_rnk FROM (
                  SELECT doc_id,
                         row_number() OVER (ORDER BY dist, doc_id) AS rnk
                  FROM vd) WHERE rnk <= 20),
        fused AS (SELECT doc_id,
                         coalesce(1.0::DOUBLE / (60 + lex_rnk), 0)
                           + coalesce(1.0::DOUBLE / (60 + qld_rnk), 0)
                           + coalesce(1.0::DOUBLE / (60 + vec_rnk), 0) AS f,
                         lex_rnk, qld_rnk, vec_rnk
                  FROM lex
                  FULL JOIN qld USING (doc_id)
                  FULL JOIN vec USING (doc_id)),
        r3 AS (SELECT doc_id, round(f, 6) AS rrf_score,
                      lex_rnk, qld_rnk, vec_rnk,
                      row_number() OVER (ORDER BY f DESC, doc_id) AS rnk
               FROM fused)
        SELECT * FROM r3 WHERE rnk <= 10
      """)
    ),
    // CombSUM / CombMNZ SCORE fusion (Fox & Shaw, TREC-2 1994) — the
    // score-based complement of the rank-only RRF pair above, fusing
    // the same three lists (BM25, Dirichlet QLD, dense): each list's
    // top-20 scores min-max normalize WITHIN the list, CombSUM sums the
    // normalized scores (DECIMAL-routed, order-free), CombMNZ multiplies
    // by the number of containing lists — the multi-list-agreement
    // boost production hybrid stacks actually ship. Every input score
    // is pre-rounded to 6dp on both engines, so the normalization is
    // identical double arithmetic; ranking runs on the unrounded fused
    // value in the same layering on both sides.
    GQuery(
      "text_combmnz",
      (spark, dir) => {
        import graft.functions.VectorFunctions.toDouble
        import graft.functions.VectorExpressions.l2SqFast
        val terms = Seq("vector", "hash", "stream", "query")
        val docs = t(spark, dir, "documents")
        val qv = t(spark, dir, "embeddings")
          .filter(col("vec_id") === 7)
          .select(toDouble(col("embedding")))
          .head().getSeq[Double](0).toArray
        val vec = t(spark, dir, "embeddings")
          .select(
            col("vec_id").cast("long").as("doc_id"),
            l2SqFast(toDouble(col("embedding")), typedLit(qv.toSeq))
              .as("dist"))
          .orderBy(col("dist"), col("doc_id"))
          .limit(20)
          .select(col("doc_id"),
            round(lit(1.0) / (lit(1.0) + col("dist")), 6).as("score"))
        graft.operators.TextSearch.combFuse(Seq(
          "lex" -> graft.operators.TextSearch
            .bm25(docs, "doc_id", "text", terms, k = 20)
            .select(col("doc_id"), col("score")),
          "qld" -> graft.operators.TextSearch
            .queryLikelihood(docs, "doc_id", "text", terms, k = 20)
            .select(col("doc_id"), col("score")),
          "vec" -> vec))
      },
      Some(s"""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM tok),
        stats AS (SELECT count(*)::BIGINT AS n,
                         (sum(dl::DECIMAL(30,6))::DOUBLE / count(*)) AS avgdl
                  FROM dl),
        tf AS (SELECT doc_id, w AS term, count(*)::BIGINT AS tf
               FROM (SELECT doc_id, unnest(t) AS w FROM tok)
               WHERE w IN ('vector','hash','stream','query')
               GROUP BY doc_id, w),
        df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        contrib AS (
          SELECT tf.doc_id,
                 ln(1 + (n - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
                   * (tf * (1.2::DOUBLE + 1))
                   / (tf + 1.2::DOUBLE
                        * (1 - 0.75::DOUBLE + 0.75::DOUBLE * dl / avgdl)) AS c
          FROM tf
          JOIN df USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats),
        scores AS (SELECT doc_id,
                          round(sum(c::DECIMAL(38,20))::DOUBLE, 6) AS score
                   FROM contrib GROUP BY doc_id),
        lexs AS (SELECT doc_id, score FROM (
                   SELECT doc_id, score,
                          row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
                   FROM scores) WHERE rnk <= 20),
        qct AS (SELECT sum(dl)::BIGINT AS ctot FROM dl),
        qcf AS (SELECT term, sum(tf)::BIGINT AS cf FROM tf GROUP BY term),
        qcontrib AS (
          SELECT dl.doc_id,
                 ln((coalesce(tf.tf, 0) + 100.0::DOUBLE
                       * (qcf.cf::DOUBLE / qct.ctot))
                    / (dl.dl + 100.0::DOUBLE)) AS c
          FROM dl CROSS JOIN qct CROSS JOIN qcf
          LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = qcf.term),
        qscores AS (SELECT doc_id,
                           round(sum(c::DECIMAL(38,20))::DOUBLE, 6) AS score
                    FROM qcontrib GROUP BY doc_id),
        qlds AS (SELECT doc_id, score FROM (
                   SELECT doc_id, score,
                          row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
                   FROM qscores) WHERE rnk <= 20),
        qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
               WHERE vec_id = 7),
        vd AS (SELECT e.vec_id AS doc_id,
                      ${sqlL2Sq("(e.embedding::DOUBLE[])", "qv.qv")} AS dist
               FROM embeddings e CROSS JOIN qv),
        vecs AS (SELECT doc_id,
                        round(1.0::DOUBLE / (1.0::DOUBLE + dist), 6) AS score
                 FROM (SELECT doc_id, dist,
                              row_number() OVER (ORDER BY dist, doc_id) AS rnk
                       FROM vd) WHERE rnk <= 20),
        norms AS (
          SELECT doc_id,
                 CASE WHEN hi > lo THEN (score - lo) / (hi - lo)
                      ELSE 0.0::DOUBLE END AS norm
          FROM lexs CROSS JOIN (SELECT min(score) AS lo, max(score) AS hi
                                FROM lexs)
          UNION ALL
          SELECT doc_id,
                 CASE WHEN hi > lo THEN (score - lo) / (hi - lo)
                      ELSE 0.0::DOUBLE END
          FROM qlds CROSS JOIN (SELECT min(score) AS lo, max(score) AS hi
                                FROM qlds)
          UNION ALL
          SELECT doc_id,
                 CASE WHEN hi > lo THEN (score - lo) / (hi - lo)
                      ELSE 0.0::DOUBLE END
          FROM vecs CROSS JOIN (SELECT min(score) AS lo, max(score) AS hi
                                FROM vecs)),
        agg AS (SELECT doc_id,
                       sum(norm::DECIMAL(38,20))::DOUBLE AS comb_sum,
                       count(*)::BIGINT AS n_lists
                FROM norms GROUP BY doc_id),
        f AS (SELECT doc_id, comb_sum, comb_sum * n_lists AS comb_mnz,
                     n_lists
              FROM agg),
        r AS (SELECT doc_id, comb_sum, comb_mnz, n_lists,
                     row_number() OVER (ORDER BY comb_mnz DESC, doc_id) AS rnk
              FROM f)
        SELECT doc_id, round(comb_sum, 6) AS comb_sum,
               round(comb_mnz, 6) AS comb_mnz, n_lists, rnk
        FROM r WHERE rnk <= 10
      """)
    ),
    // Winnowing fingerprints (Schleimer–Wilkerson–Aiken 2003, the MOSS
    // scheme): every char 5-gram hashed (md5 hex prefix — identical text
    // in both engines), windows of 4 consecutive hashes, each window's
    // MINIMUM selected with the rightmost-tie rule — folded into ONE
    // plain min() window over the key hash8 ∥ zeroPad(10⁹−pos), so the
    // whole selection replays as a single SQL window aggregate. Expected
    // density 2/(w+1); guarantee: any substring match of length ≥ w+k−1
    // shares a fingerprint (WinnowSpec property-tests it). The full
    // per-doc fingerprint table IS the output — every selected position
    // and hash hash-checked.
    GQuery(
      "text_winnow",
      (spark, dir) =>
        sharedWinnow(spark, dir).select(col("doc_id"), col("pos"), col("fp")),
      Some(winnowSql(5, 4) + """
        SELECT doc_id,
               1000000000 - substr(sel, 9, 10)::BIGINT AS pos,
               substr(sel, 1, 8) AS fp
        FROM wsel
      """)
    ),
    // Near-dup pairs by DISCRIMINATIVE-fingerprint Jaccard — the local,
    // position-robust complement of whole-document MinHash: fingerprints
    // with df > cap are boilerplate (template 5-grams — the mass idf
    // would discount to ~0) and leave BOTH the numerator and the
    // denominator; the score is the exact set Jaccard over the ≤-cap
    // universe. Identical docs still score exactly 1.0; boilerplate-only
    // overlap produces no pair at all. Shared counts fall straight out
    // of the capped self-join's group-by — fan-out ≤ C(cap, 2) per
    // fingerprint, N-independent, no second verify pass.
    GQuery(
      "dedup_winnow",
      (spark, dir) => {
        Dedup
          .winnowPairsFrom(sharedWinnow(spark, dir), tau = 0.3, maxDfAbs = 100)
          .select(
            col("doc_a"), col("doc_b"), col("shared"),
            round(col("jaccard"), 6).as("jaccard"))
      },
      Some(winnowSql(5, 4) + """
        ,
        fps AS MATERIALIZED (SELECT DISTINCT doc_id, substr(sel, 1, 8) AS fp
               FROM wsel),
        keepf AS (SELECT fp FROM (SELECT fp, count(*) AS df
                                  FROM fps GROUP BY fp)
                  WHERE df <= 100),
        idx AS MATERIALIZED (SELECT f.doc_id, f.fp
               FROM fps f JOIN keepf r ON r.fp = f.fp),
        fsz AS (SELECT doc_id, count(*) AS nf FROM idx GROUP BY doc_id),
        cshare AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          count(*)::BIGINT AS shared
                   FROM idx a JOIN idx b
                     ON a.fp = b.fp AND a.doc_id < b.doc_id
                   GROUP BY a.doc_id, b.doc_id)
        SELECT s.doc_a, s.doc_b, s.shared,
               round(s.shared::DOUBLE / (za.nf + zb.nf - s.shared), 6)
                 AS jaccard
        FROM cshare s
        JOIN fsz za ON za.doc_id = s.doc_a
        JOIN fsz zb ON zb.doc_id = s.doc_b
        WHERE s.shared::DOUBLE / (za.nf + zb.nf - s.shared) >= 0.3
      """)
    ),
    // Hashing-trick TF-IDF features (Weinberger et al. 2009) — the
    // vocabulary-free fixed-width featurizer: token → md5-long mod 16
    // bucket, per-(doc, bucket) counts, idf = ln(N/df_bucket). ONE hash
    // aggregation keyed on (doc, bucket) + a broadcast B-row idf table —
    // no dictionary pass, stable schema at any corpus size; feeds the
    // spectral tier and linear classifiers.
    GQuery(
      "text_feature_hash",
      (spark, dir) =>
        TextAnalysis
          .hashedTfidf(t(spark, dir, "documents"), "doc_id", "text", 16)
          .select(col("doc_id"), col("bucket"), col("tf"),
            round(col("tfidf"), 6).as("tfidf")),
      Some("""
        WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents),
        bk AS (SELECT doc_id,
                      ('0x' || substr(md5(w), 1, 14))::BIGINT % 16 AS bucket
               FROM tk WHERE w <> ''),
        tf AS (SELECT doc_id, bucket, count(*)::BIGINT AS tf
               FROM bk GROUP BY 1, 2),
        dfb AS (SELECT bucket, count(*)::BIGINT AS dfb FROM tf GROUP BY bucket),
        nn AS (SELECT count(*)::BIGINT AS n FROM documents)
        SELECT t.doc_id, t.bucket, t.tf,
               round(t.tf * ln(nn.n::DOUBLE / d.dfb), 6) AS tfidf
        FROM tf t JOIN dfb d USING (bucket) CROSS JOIN nn
      """)
    ),
    // LSA topic scores (Deerwester et al. 1990 latent semantic analysis,
    // spelled corpus-scale): documents → l2-NORMALIZED hashed COUNT
    // vectors (the tf half of text_feature_hash — integer-derived, no ln
    // anywhere in the feature path, so nothing feeds the 48-round power
    // iteration that could differ in the last ulp between engines) →
    // the spectral tier's corpus PCA (decimal-exact moments, greedy
    // deflation) → per-doc projections on the top-2 latent directions.
    // The WHOLE trajectory (feature build, moments, both eigenvectors,
    // every projection) replays in the shared pcaReplayCtes and
    // hash-matches.
    GQuery(
      "text_lsa",
      (spark, dir) => {
        val feats = lsaFeatures(spark, dir)
        val m = graft.operators.Pca.fit(feats, "fv", d = 16, p = 2, rounds = 48)
        feats.select(
          col("doc_id"),
          round(graft.operators.Pca.projectCol(m, col("fv"), 0), 6).as("t1"),
          round(graft.operators.Pca.projectCol(m, col("fv"), 1), 6).as("t2"))
      },
      Some(s"""
        WITH ${VectorQueries.pcaReplayCtes(48, 16, lsaFeatureSql)}
        SELECT e.vec_id AS doc_id,
          round(list_sum(list_transform(generate_series(1, 16),
                  i -> (e.ev[i] - m.ml[i]) * a.vl[i])), 6) AS t1,
          round(list_sum(list_transform(generate_series(1, 16),
                  i -> (e.ev[i] - m.ml[i]) * b.vl[i])), 6) AS t2
        FROM e CROSS JOIN mul m CROSS JOIN v1_48 a CROSS JOIN v2_48 b
      """)
    ),
    // Unigram-LM tokenizer training (Kudo 2018 — the SentencePiece
    // unigram model, the second tokenizer family next to BPE) by hard
    // (Viterbi) EM: candidate pieces = substrings ≤ 4 chars with
    // weighted count ≥ 5 plus all single chars; p = (c+α)/(C+αV)
    // additive smoothing; 2 FIXED EM rounds of Viterbi segmentation
    // (ties → longest final piece, the ascending-j first-max rule that
    // both engines spell as first-match position lookup) + integer
    // count re-estimation. Same 100-TB split as BPE: the corpus-sized
    // work is ONE word→count hash aggregation; the EM loop runs on the
    // driver over the bounded weighted vocab, exactly where
    // sentencepiece runs it. The oracle replays the WHOLE trajectory —
    // candidate census, both Viterbi DPs (one recursion step per
    // character), backpointer walks, count updates — in recursive CTEs.
    GQuery(
      "text_unigram_train",
      (spark, dir) => {
        TextAnalysis
          .unigramVocab(spark, sharedUnigram(spark, dir))
          .select(col("piece"), col("count"), round(col("logp"), 6).as("logp"))
      },
      Some(unigramSql + s"""
        SELECT piece, c AS count,
               round(ln((c + $UniAlpha) / (t.ct + $UniAlpha * t.v)), 6)
                 AS logp
        FROM vocab2 CROSS JOIN tot2 t
      """)
    ),
    // Vocabulary pruning on the trained unigram model — multi-char
    // pieces below the count threshold leave the vocab (singles stay:
    // segmentability), probabilities renormalize over the survivors,
    // one more Viterbi E+M round re-estimates counts (usage concentrates
    // on kept pieces — the deterministic count-threshold proxy for
    // Kudo's likelihood-loss pruning). The oracle chains one prune CTE
    // + a fourth DP round onto the training replay.
    GQuery(
      "text_unigram_prune",
      (spark, dir) => {
        val m = TextAnalysis.unigramPrune(
          t(spark, dir, "documents"), "text",
          sharedUnigram(spark, dir), maxPieceLen = UniL, pruneMinCount = 30)
        TextAnalysis
          .unigramVocab(spark, m)
          .select(col("piece"), col("count"), round(col("logp"), 6).as("logp"))
      },
      Some(unigramSql + s""",
        vocab3 AS MATERIALIZED (SELECT piece, c FROM vocab2
                   WHERE length(piece) = 1 OR c >= 30),
        tot3 AS MATERIALIZED (SELECT sum(c)::BIGINT AS ct,
                         count(*)::BIGINT AS v FROM vocab3),
        ${uniVmCte(3)},
        ${uniRoundCte(4, "vm3", "vocab3", withCounts = true)}
        SELECT piece, c AS count,
               round(ln((c + $UniAlpha) / (t.ct + $UniAlpha * t.v)), 6)
                 AS logp
        FROM vocab4 CROSS JOIN tot4 t
      """)
    ),
    // Viterbi-encode the corpus under the trained unigram model — the
    // serving half, split like text_bpe_encode: the driver-small model
    // ships in the task closure, the DP kernel runs embarrassingly
    // parallel per partition (a pure mapPartitions scan — zero
    // Exchange, PlanSpec-guarded). Per doc: word count, token count,
    // and an md5-folded fingerprint of the token stream in word order
    // (engine-neutral, unlike a JVM hashCode) that keeps the full
    // segmentation checkable without shipping it. The oracle runs a
    // THIRD Viterbi pass under the final model and folds the same hash.
    GQuery(
      "text_unigram_encode",
      (spark, dir) => {
        TextAnalysis.unigramEncode(
          t(spark, dir, "documents"), "doc_id", "text",
          sharedUnigram(spark, dir), maxPieceLen = UniL)
      },
      Some(unigramSql + s""",
        ${uniVmCte(2)},
        ${uniRoundCte(3, "vm2", "", withCounts = false)},
        dwu AS MATERIALIZED (SELECT doc_id, i, tl[i] AS w
               FROM (SELECT doc_id, string_split(text, ' ') AS tl
                     FROM documents),
                    unnest(generate_series(1, len(tl))) AS g(i)
               WHERE tl[i] <> ''),
        encu AS MATERIALIZED (SELECT dwu.doc_id, dwu.i, s.pieces
                FROM dwu JOIN seg3 s USING (w)),
        aggu AS MATERIALIZED (SELECT doc_id,
                       count(*)::BIGINT AS n_words,
                       sum(len(pieces))::BIGINT AS n_tokens,
                       list_reduce(
                         list_prepend(0::BIGINT,
                           list_transform(flatten(list(pieces ORDER BY i)),
                             p -> ('0x' || substr(md5(p), 1, 8))::BIGINT)),
                         (acc, x) -> (acc * 31 + x) % 1000000007)
                         AS tokens_hash
                FROM encu GROUP BY doc_id)
        SELECT d.doc_id, coalesce(a.n_words, 0)::BIGINT AS n_words,
               coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
               coalesce(a.tokens_hash, 0)::BIGINT AS tokens_hash
        FROM documents d LEFT JOIN aggu a USING (doc_id)
      """)
    ),
    // WordPiece tokenizer TRAINING (Schuster & Nakajima 2012 — the BERT
    // tokenizer, the THIRD tokenizer family next to BPE and unigram).
    // Same 100-TB split as text_bpe_train: one distributed word-count
    // hash agg, then the driver merge loop over the bounded vocabulary.
    // The ONLY delta vs BPE is the selection rule — likelihood gain
    // score = pair_count / (count(l)·count(r)) over the CURRENT
    // segmentation instead of raw pair count — so the oracle recursion
    // adds two symbol-count aggregate joins to the best-pair subquery;
    // the score is ONE division of exact integers (both engines divide
    // identical doubles — emitted raw, no rounding needed). Trained on
    // the src0 slice so the serving query below is a genuine
    // cross-corpus application.
    GQuery(
      "text_wordpiece_train",
      (spark, dir) => sharedWordPiece(spark, dir).merges,
      Some(wordPieceRecursiveCte + """
        SELECT DISTINCT (rank - 1)::INTEGER AS merge_rank, ml AS "left",
               mr AS "right", ml || substr(mr, 3) AS merged,
               mc AS pair_count, msc AS score
        FROM t WHERE rank >= 1
      """)
    ),
    // WordPiece ENCODING: greedy longest-match-first (the BERT serving
    // rule) of ALL documents under the src0-trained vocabulary
    // (alphabet ∪ merged pieces) — whole word → [UNK] the moment no
    // piece matches. The model ships in the task closure; the matcher is
    // a pure mapPartitions scan. The oracle's greedy walk is a second
    // recursion over (word, cursor) — the vocab list rides the
    // recursion ANCHOR as a carried column because a DuckDB recursive
    // member that references a CTE derived from ANOTHER recursive CTE
    // sees it empty (hard-won; the anchor evaluates after the training
    // recursion completes and sees it correctly).
    GQuery(
      "text_wordpiece_encode",
      (spark, dir) => {
        val wp = sharedWordPiece(spark, dir)
        TextAnalysis.wordPieceEncode(
          t(spark, dir, "documents"), "doc_id", "text", wp.vocab)
      },
      Some(wordPieceRecursiveCte + """,
        vocabp AS (
          SELECT DISTINCT CASE WHEN g.i = 1 THEN w[g.i]
                               ELSE '##' || w[g.i] END AS p
          FROM wc, unnest(generate_series(1, length(w))) AS g(i)
          UNION
          SELECT DISTINCT ml || substr(mr, 3) AS p FROM t WHERE rank >= 1
        ),
        aw AS MATERIALIZED (
          SELECT DISTINCT w
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          WHERE w <> ''),
        wseg(w, pos, pieces, failed, ps) AS (
          SELECT w, 1, []::VARCHAR[], false,
                 (SELECT list(p ORDER BY length(p) DESC, p) FROM vocabp)
          FROM aw
          UNION ALL
          SELECT s.w,
                 CASE WHEN s.mp IS NULL THEN length(s.w) + 1
                      ELSE s.pos + CASE WHEN s.pos = 1 THEN length(s.mp)
                                        ELSE length(s.mp) - 2 END END,
                 CASE WHEN s.mp IS NULL THEN ['[UNK]']
                      ELSE list_append(s.pieces, s.mp) END,
                 s.mp IS NULL,
                 s.ps
          FROM (SELECT w, pos, pieces, failed, ps,
                       list_filter(ps, p -> CASE WHEN pos = 1
                         THEN p NOT LIKE '##%'
                              AND p = substr(w, pos, length(p))
                         ELSE p LIKE '##%' AND length(p) > 2
                              AND substr(p, 3) =
                                  substr(w, pos, length(p) - 2) END)[1]
                         AS mp
                FROM wseg
                WHERE pos <= length(w) AND NOT failed) s
        ),
        seg AS MATERIALIZED (
          SELECT w, pieces, failed FROM wseg WHERE pos > length(w)),
        dww AS (SELECT doc_id, i, tl[i] AS w
                FROM (SELECT doc_id, string_split(text, ' ') AS tl
                      FROM documents),
                     unnest(generate_series(1, len(tl))) AS g(i)
                WHERE tl[i] <> ''),
        encw AS (SELECT dww.doc_id, dww.i, s.pieces, s.failed
                 FROM dww JOIN seg s USING (w)),
        aggw AS (SELECT doc_id,
                        count(*)::BIGINT AS n_words,
                        sum(len(pieces))::BIGINT AS n_tokens,
                        sum(CASE WHEN failed THEN 1 ELSE 0 END)::BIGINT
                          AS n_unk,
                        list_reduce(
                          list_prepend(0::BIGINT,
                            list_transform(flatten(list(pieces ORDER BY i)),
                              p -> ('0x' || substr(md5(p), 1, 8))::BIGINT)),
                          (acc, x) -> (acc * 31 + x) % 1000000007)
                          AS tokens_hash
                 FROM encw GROUP BY doc_id)
        SELECT d.doc_id, coalesce(a.n_words, 0)::BIGINT AS n_words,
               coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
               coalesce(a.n_unk, 0)::BIGINT AS n_unk,
               coalesce(a.tokens_hash, 0)::BIGINT AS tokens_hash
        FROM documents d LEFT JOIN aggw a USING (doc_id)
      """)
    ),
    // TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    // centrality over the word co-occurrence graph — unsupervised
    // keyword salience, the graph-walk complement of tf-idf. Composes
    // TextRank.cooccurrenceEdges (candidate filter + window-2 lead()
    // adjacency, linear in tokens, no self-join) with the SAME PageRank
    // operator pipeline_pagerank exercises — same decimal-exact rounds,
    // same dangling redistribution (single-candidate docs leave isolated
    // vocabulary nodes, so the dangling path is live here) — and the
    // whole schedule replays as three unrolled SQL rounds, hash-checked.
    GQuery(
      "text_textrank",
      (spark, dir) => sharedTextRank(spark, dir).keywords,
      Some(s"""
        WITH $textRankCtes
        SELECT rank::BIGINT AS rank, word, pr FROM tkw
      """)
    ),
    // The serving half: per-document keyword salience under the FROZEN
    // top-100 TextRank table — Σ pr over the document's keyword token
    // INSTANCES (multiplicity counts), the all-integer discipline: each
    // 6-dp weight becomes its exact micro-unit LONG (round(pr·10⁶)),
    // the per-doc sum is exact integer arithmetic in any order on any
    // engine, ONE final /10⁶ produces the double. Row-local scan + a
    // 100-entry broadcast map, zero shuffle;
    // StreamingOps.textRankSalienceStream serves the identical
    // expression over a stream.
    GQuery(
      "text_textrank_salience",
      (spark, dir) => {
        val kw = sharedTextRank(spark, dir).model
        graft.operators.TextRank
          .salience(t(spark, dir, "documents"), "doc_id", "text", kw)
      },
      Some(s"""
        WITH $textRankCtes,
        kwm AS (SELECT word, round(pr * 1000000.0)::BIGINT AS microw
                FROM tkw),
        dtok AS (SELECT doc_id, tl[g.i] AS w
                 FROM (SELECT doc_id, string_split(text, ' ') AS tl
                       FROM documents),
                      unnest(generate_series(1, len(tl))) AS g(i)),
        thits AS (SELECT d.doc_id, count(*)::BIGINT AS n_key_hits,
                         sum(k.microw)::BIGINT AS micro
                  FROM dtok d JOIN kwm k ON k.word = d.w
                  GROUP BY d.doc_id)
        SELECT doc.doc_id,
               coalesce(h.n_key_hits, 0)::BIGINT AS n_key_hits,
               (coalesce(h.micro, 0)::DOUBLE / 1000000.0) AS salience
        FROM documents doc LEFT JOIN thits h USING (doc_id)
      """)
    ),
    // MinHash-LSH band planning: the measured b×r operating table over
    // ONE shared 16-permutation signature — per config (1×16, 2×8, 4×4,
    // 8×2): banded candidate count, truth pairs caught (recall) and
    // truth-per-candidate (precision, the verify-cost denominator).
    // Ground truth = the exact dedup_jaccard pair set at τ=0.5. The
    // planning query a deployment runs BEFORE freezing a signature
    // layout; every count integer-exact, so the whole curve
    // hash-checks. r=1 configs are rejected by the operator (single
    // min-hash buckets scale with boilerplate doc frequency).
    GQuery(
      "dedup_lsh_plan",
      (spark, dir) =>
        Dedup.lshBandPlan(
          t(spark, dir, "documents"), "doc_id", "text",
          n = 3, numPerms = 16, bandGrid = Seq(1, 2, 4, 8), tau = 0.5),
      Some(s"""
        WITH $shingleCtes,
        mh AS (SELECT doc_id, i,
                      min(((2*i+1) * x + 12289*i) % 1000000007) AS v
               FROM (SELECT doc_id,
                            ('0x' || substr(md5(sh), 1, 14))::BIGINT
                              % 1000000007 AS x
                     FROM sh)
               CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i)
               GROUP BY doc_id, i),
        cfg AS (SELECT unnest([1, 2, 4, 8]) AS bands),
        bnd AS (SELECT cfg.bands, mh.doc_id,
                       mh.i // (16 // cfg.bands) AS band,
                       string_agg(mh.v::VARCHAR, ',' ORDER BY mh.i) AS sig
                FROM mh CROSS JOIN cfg
                GROUP BY cfg.bands, mh.doc_id, mh.i // (16 // cfg.bands)),
        cand AS (SELECT DISTINCT a.bands, a.doc_id AS doc_a,
                        b.doc_id AS doc_b
                 FROM bnd a JOIN bnd b
                   ON a.bands = b.bands AND a.band = b.band
                      AND a.sig = b.sig AND a.doc_id < b.doc_id),
        common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          count(*) AS c
                   FROM sh a JOIN sh b
                     ON a.sh = b.sh AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
        truth AS (SELECT doc_a, doc_b
                  FROM (SELECT doc_a, doc_b, c, sa.nsh AS na, sb.nsh AS nb
                        FROM common
                        JOIN sizes sa ON sa.doc_id = doc_a
                        JOIN sizes sb ON sb.doc_id = doc_b)
                  WHERE c::DOUBLE / (na + nb - c) >= 0.5),
        nt AS (SELECT count(*)::BIGINT AS n_true FROM truth),
        pc AS (SELECT bands, count(*)::BIGINT AS n_candidates
               FROM cand GROUP BY bands),
        dt AS (SELECT c.bands, count(*)::BIGINT AS n_detected
               FROM cand c
               JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
               GROUP BY c.bands)
        SELECT cfg.bands::BIGINT AS bands,
               (16 // cfg.bands)::BIGINT AS rows_per_band,
               coalesce(pc.n_candidates, 0)::BIGINT AS n_candidates,
               coalesce(dt.n_detected, 0)::BIGINT AS n_detected,
               nt.n_true,
               round(CASE WHEN nt.n_true > 0
                     THEN coalesce(dt.n_detected, 0)::DOUBLE / nt.n_true
                     ELSE 0.0 END, 6) AS recall,
               round(CASE WHEN coalesce(pc.n_candidates, 0) > 0
                     THEN coalesce(dt.n_detected, 0)::DOUBLE
                          / pc.n_candidates
                     ELSE 0.0 END, 6) AS precision
        FROM cfg CROSS JOIN nt
        LEFT JOIN pc ON pc.bands = cfg.bands
        LEFT JOIN dt ON dt.bands = cfg.bands
      """)
    ),
    // Duplication-rate threshold curve: the τ operating table for the
    // exact Jaccard near-dup family — pair volume, docs touched, and
    // mean similarity at each τ ∈ {0.2..0.9} over ONE verified pair
    // set (scored once at the 0.2 floor; each τ row is a filter, not a
    // re-verify). The knob-setting audit run before choosing the dedup
    // threshold: too low merges distinct docs, too high leaks
    // near-dups — this measures both margins. Counts integer-exact;
    // the mean routes each 6-dp score through DECIMAL so the sum is
    // order-free on both engines.
    GQuery(
      "dedup_threshold_curve",
      (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        // NOT checkpointed although two consumers read the selection
        // (doc census + pair aggregate): both re-read the verify
        // subtree's shuffle files (ReusedExchange), and an A/B measured
        // eager materialization as neutral-to-negative here — unlike
        // lshBandPlan's truth table, where the same A/B showed 2x
        val pr = Dedup.jaccardPairs(
          t(spark, dir, "documents"), "doc_id", "text", 3, 0.2)
        val sel = pr
          .select(
            col("doc_a"), col("doc_b"), col("jaccard"),
            explode(expr("sequence(2, 9)")).as("g"))
          .filter(col("jaccard") >= col("g").cast("double") / lit(10.0))
        val docs = sel
          .select(col("g"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
          .groupBy(col("g"))
          .agg(countDistinct(col("d")).as("n_docs"))
        sel
          .groupBy(col("g"))
          .agg(
            count(lit(1)).as("n_pairs"),
            sum(round(col("jaccard"), 6).cast(DecimalType(30, 6))).as("sj"))
          .join(docs, Seq("g"))
          .select(
            col("g").cast("long").as("tau_x10"),
            col("n_pairs"),
            col("n_docs"),
            round(col("sj").cast("double") / col("n_pairs"), 6)
              .as("avg_jaccard"))
      },
      Some(s"""
        WITH $shingleCtes,
        common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          count(*) AS c
                   FROM sh a JOIN sh b
                     ON a.sh = b.sh AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
        pr AS (SELECT doc_a, doc_b, c::DOUBLE / (na + nb - c) AS j
               FROM (SELECT doc_a, doc_b, c, sa.nsh AS na, sb.nsh AS nb
                     FROM common
                     JOIN sizes sa ON sa.doc_id = doc_a
                     JOIN sizes sb ON sb.doc_id = doc_b)
               WHERE c::DOUBLE / (na + nb - c) >= 0.2),
        g AS (SELECT unnest(generate_series(2, 9)) AS g),
        sel AS (SELECT g.g, pr.doc_a, pr.doc_b, pr.j
                FROM pr CROSS JOIN g
                WHERE pr.j >= g.g::DOUBLE / 10.0),
        docs AS (SELECT g, count(DISTINCT d)::BIGINT AS n_docs
                 FROM (SELECT g, unnest([doc_a, doc_b]) AS d FROM sel)
                 GROUP BY g)
        SELECT sel.g::BIGINT AS tau_x10, count(*)::BIGINT AS n_pairs,
               docs.n_docs,
               round(sum(round(sel.j, 6)::DECIMAL(30,6))::DOUBLE
                     / count(*), 6) AS avg_jaccard
        FROM sel JOIN docs ON docs.g = sel.g
        GROUP BY sel.g, docs.n_docs
      """)
    ),
    // ROC-AUC of the fastText-style quality classifier against the
    // heuristic quality-score keep label (quality ≥ 0.52, the corpus
    // median band) — the classifier-vs-heuristic agreement audit a
    // DCLM-style filtering stage runs before trusting a distilled
    // classifier at crawl scale. Exact Mann–Whitney with AVERAGE ranks
    // for ties: ranking key = the classifier's exact integer surrogate
    // wsum/nfeat (σ is monotone in it, so the AUC is identical and no
    // cross-engine exp() enters the order), doubled rank sums keep the
    // whole statistic in integers until ONE final division. Rank from
    // distributedRank — no single-partition corpus window.
    GQuery(
      "eval_classifier_auc",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val cls = TextAnalysis.linearClassifier(docs, "doc_id", "text")
        val qual = TextAnalysis.qualityScore(docs, "doc_id", "text")
        val j = cls
          .join(qual, "doc_id")
          .select(
            (col("wsum").cast("double") / col("nfeat")).as("sr"),
            (col("quality") >= 0.52).as("pos"))
        graft.operators.ClusterEval.rocAuc(j, "sr", "pos")
      },
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        f AS (SELECT doc_id, unnest(list_concat(
                list_transform(t, x -> 'u:' || x),
                CASE WHEN len(t) >= 2
                THEN list_transform(generate_series(1, len(t)-1),
                       i -> 'b:' || t[i] || ' ' || t[i+1])
                ELSE []::VARCHAR[] END)) AS feat
              FROM tok),
        wm AS (SELECT doc_id,
                      (('0x' || substr(md5(feat), 1, 14))::BIGINT % 2001)
                        - 1000 AS wm
               FROM f),
        s AS (SELECT doc_id, sum(wm)::BIGINT AS wsum,
                     count(*)::BIGINT AS nfeat
              FROM wm GROUP BY 1),
        qf AS (SELECT doc_id,
                      len(t)::DOUBLE AS n,
                      len(list_filter(t, x -> x IN
                        ('the','a','of','to','and','in','is','for')))::DOUBLE
                        / len(t) AS stop_ratio,
                      len(list_distinct(t))::DOUBLE / len(t) AS diversity
               FROM tok),
        q AS (SELECT doc_id,
                     round(0.4::DOUBLE * least(1.0::DOUBLE, n / 50.0::DOUBLE)
                           + 0.3::DOUBLE * stop_ratio
                           + 0.3::DOUBLE * diversity, 6) AS quality
              FROM qf),
        j AS (SELECT s.doc_id, s.wsum::DOUBLE / s.nfeat AS sr,
                     CASE WHEN q.quality >= 0.52 THEN 1 ELSE 0 END AS pos
              FROM s JOIN q USING (doc_id)),
        r AS (SELECT doc_id, sr, pos,
                     row_number() OVER (ORDER BY sr, doc_id) - 1 AS r
              FROM j),
        g AS (SELECT sr, min(r) AS rmin, max(r) AS rmax,
                     sum(pos)::BIGINT AS p, count(*)::BIGINT AS n
              FROM r GROUP BY sr),
        a AS (SELECT sum(p)::BIGINT AS npos, sum(n - p)::BIGINT AS nneg,
                     count(*)::BIGINT AS n_groups,
                     sum(p * (rmin + rmax + 2))::BIGINT AS s2
              FROM g)
        SELECT npos, nneg, n_groups,
               round(CASE WHEN npos > 0 AND nneg > 0
                     THEN (s2 - npos * (npos + 1))::DOUBLE
                          / (2.0 * npos * nneg)
                     ELSE 0.5 END, 6) AS auc
        FROM a
      """)
    ),
    // Corpus drift census between two deterministic halves (doc_id
    // parity): add-one-smoothed unigram LMs over the shared vocabulary,
    // KL(A→B), KL(B→A) and the bounded symmetric JSD — the
    // distribution-shift monitor a crawl pipeline runs between snapshots
    // (a drifting KL flags topic/boilerplate composition change before
    // any downstream metric moves). Counts integer-exact; each ln term
    // routes through DECIMAL(38,20) so the sums are order-free.
    GQuery(
      "text_kl_drift",
      (spark, dir) =>
        TextAnalysis.klDrift(
          t(spark, dir, "documents"), col("doc_id") % 2 === 0, "text"),
      Some("""
        WITH w AS (SELECT doc_id % 2 = 0 AS ina,
                          unnest(string_split(text, ' ')) AS w
                   FROM documents),
        cnt AS (SELECT w,
                       sum(CASE WHEN ina THEN 1 ELSE 0 END)::BIGINT AS ca,
                       sum(CASE WHEN ina THEN 0 ELSE 1 END)::BIGINT AS cb
                FROM w WHERE w <> '' GROUP BY w),
        tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb,
                       count(*)::BIGINT AS v
                FROM cnt),
        p AS (SELECT (ca + 1)::DOUBLE / (na + v) AS pa,
                     (cb + 1)::DOUBLE / (nb + v) AS pb,
                     na, nb, v
              FROM cnt CROSS JOIN tot)
        SELECT max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
               max(v)::BIGINT AS vocab,
               round(sum((pa * ln(pa / pb))::DECIMAL(38,20))::DOUBLE, 6)
                 AS kl_ab,
               round(sum((pb * ln(pb / pa))::DECIMAL(38,20))::DOUBLE, 6)
                 AS kl_ba,
               round((sum((pa * ln(pa / ((pa + pb) / 2.0)))
                        ::DECIMAL(38,20))::DOUBLE
                      + sum((pb * ln(pb / ((pa + pb) / 2.0)))
                        ::DECIMAL(38,20))::DOUBLE) / 2.0, 6) AS jsd
        FROM p
      """)
    ),
    // Reliability diagram of the classifier score against the heuristic
    // quality keep label — the calibration audit next to
    // eval_classifier_auc's ranking audit (a score can rank perfectly
    // and still be mis-calibrated; threshold-based filtering trusts the
    // VALUE): 10 equal-width score bins, per bin the doc count,
    // positives, decimal-routed mean score, observed positive rate, and
    // the signed calibration gap. Bin index is an integer floor of the
    // 6-dp score — exact on both engines; ECE is one weighted sum away
    // (spec-pinned).
    GQuery(
      "eval_calibration_bins",
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
        val cls = TextAnalysis.linearClassifier(docs, "doc_id", "text")
        val qual = TextAnalysis.qualityScore(docs, "doc_id", "text")
        graft.operators.ClusterEval.calibrationBins(
          cls.join(qual, "doc_id")
            .select(col("score"), (col("quality") >= 0.52).as("pos")),
          "score", "pos", bins = 10)
      },
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        f AS (SELECT doc_id, unnest(list_concat(
                list_transform(t, x -> 'u:' || x),
                CASE WHEN len(t) >= 2
                THEN list_transform(generate_series(1, len(t)-1),
                       i -> 'b:' || t[i] || ' ' || t[i+1])
                ELSE []::VARCHAR[] END)) AS feat
              FROM tok),
        wm AS (SELECT doc_id,
                      (('0x' || substr(md5(feat), 1, 14))::BIGINT % 2001)
                        - 1000 AS wm
               FROM f),
        s AS (SELECT doc_id,
                     round(1.0 / (1.0 +
                       exp(-(sum(wm)::DOUBLE / (1000.0 * count(*))))), 6)
                       AS score
              FROM wm GROUP BY doc_id),
        qf AS (SELECT doc_id,
                      len(t)::DOUBLE AS n,
                      len(list_filter(t, x -> x IN
                        ('the','a','of','to','and','in','is','for')))::DOUBLE
                        / len(t) AS stop_ratio,
                      len(list_distinct(t))::DOUBLE / len(t) AS diversity
               FROM tok),
        q AS (SELECT doc_id,
                     round(0.4::DOUBLE * least(1.0::DOUBLE, n / 50.0::DOUBLE)
                           + 0.3::DOUBLE * stop_ratio
                           + 0.3::DOUBLE * diversity, 6) AS quality
              FROM qf),
        j AS (SELECT least(floor(s.score * 10)::BIGINT, 9) AS bin, s.score,
                     CASE WHEN q.quality >= 0.52 THEN 1 ELSE 0 END AS pos
              FROM s JOIN q USING (doc_id)),
        g AS (SELECT bin, count(*)::BIGINT AS n, sum(pos)::BIGINT AS n_pos,
                     sum(score::DECIMAL(30,6))::DOUBLE / count(*) AS mean_score
              FROM j GROUP BY bin)
        SELECT bin, n, n_pos,
               round(mean_score, 6) AS mean_score,
               round(n_pos::DOUBLE / n, 6) AS frac_pos,
               round(n_pos::DOUBLE / n - mean_score, 6) AS gap
        FROM g
      """)
    ),
    // Per-term drift census over the same parity slices as
    // text_kl_drift: the top-100 terms by absolute count drift
    // (integer-ranked — no float ordering hazard), each with both
    // counts and its signed add-one-smoothed KL(A→B) contribution —
    // the "WHAT moved" drill-down under the corpus-level KL number.
    GQuery(
      "text_drift_terms",
      (spark, dir) => {
        val toks = t(spark, dir, "documents")
          .select(
            (col("doc_id") % 2 === 0).as("ina"),
            explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
        val cnt = toks
          .groupBy(col("w"))
          .agg(
            sum(when(col("ina"), 1L).otherwise(0L)).as("c_a"),
            sum(when(!col("ina"), 1L).otherwise(0L)).as("c_b"))
        val tot = cnt.agg(
          sum(col("c_a")).as("na"), sum(col("c_b")).as("nb"),
          count(lit(1)).as("v"))
        cnt
          .crossJoin(tot)
          .withColumn("pa",
            (col("c_a") + 1).cast("double") / (col("na") + col("v")))
          .withColumn("pb",
            (col("c_b") + 1).cast("double") / (col("nb") + col("v")))
          .withColumn("d_count", abs(col("c_a") - col("c_b")))
          .orderBy(col("d_count").desc, col("w"))
          .limit(100)
          .select(
            col("w").as("term"), col("c_a"), col("c_b"), col("d_count"),
            round(col("pa") * log(col("pa") / col("pb")), 6)
              .as("kl_contrib"))
      },
      Some("""
        WITH w AS (SELECT doc_id % 2 = 0 AS ina,
                          unnest(string_split(text, ' ')) AS w
                   FROM documents),
        cnt AS (SELECT w,
                       sum(CASE WHEN ina THEN 1 ELSE 0 END)::BIGINT AS c_a,
                       sum(CASE WHEN ina THEN 0 ELSE 1 END)::BIGINT AS c_b
                FROM w WHERE w <> '' GROUP BY w),
        tot AS (SELECT sum(c_a)::BIGINT AS na, sum(c_b)::BIGINT AS nb,
                       count(*)::BIGINT AS v
                FROM cnt)
        SELECT w AS term, c_a, c_b, abs(c_a - c_b)::BIGINT AS d_count,
               round(((c_a + 1)::DOUBLE / (na + v))
                     * ln(((c_a + 1)::DOUBLE / (na + v))
                          / ((c_b + 1)::DOUBLE / (nb + v))), 6) AS kl_contrib
        FROM cnt CROSS JOIN tot
        ORDER BY abs(c_a - c_b) DESC, w
        LIMIT 100
      """)
    ),
    // The dedup CASCADE with per-stage kill attribution — how production
    // dedup actually runs (cheapest blocking first, each stage only on
    // the survivors of the last): exact content hash → MinHash-LSH
    // verified Jaccard clusters (τ=0.5) → SimHash hamming≤3 clusters.
    // Every doc gets (killed_by, canonical_id): the stage that removed
    // it and the canonical it lost to AT THAT STAGE (attribution is
    // local by design — a later stage may re-cluster the canonical).
    // The attribution table is what a curation run audits before
    // committing a dedup config: which family removes how much, and
    // what each stage adds over the previous. Stages reuse the exact
    // operators their standalone rows hash-check; clusters ride the
    // size-adaptive CC.
    GQuery(
      "pipeline_dedup_cascade",
      (spark, dir) =>
        Dedup.cascade(t(spark, dir, "documents"), "doc_id", "text"),
      Some("""
        WITH RECURSIVE
        x1 AS (SELECT doc_id,
                      min(doc_id) OVER (PARTITION BY md5(text)) AS canon
               FROM documents),
        s1k AS (SELECT doc_id, canon FROM x1 WHERE doc_id != canon),
        d1 AS (SELECT d.doc_id, d.text FROM documents d
               JOIN x1 ON x1.doc_id = d.doc_id AND x1.doc_id = x1.canon),
        tok2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM d1),
        sh2 AS (SELECT DISTINCT doc_id,
                       unnest(CASE WHEN len(t) >= 3
                              THEN list_transform(generate_series(1, len(t)-2),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                              ELSE []::VARCHAR[] END) AS sh
                FROM tok2),
        sizes2 AS (SELECT doc_id, count(*) AS nsh FROM sh2 GROUP BY doc_id),
        mh2 AS (SELECT doc_id, i,
                       min(((2*i+1) * x + 12289*i) % 1000000007) AS v
                FROM (SELECT doc_id,
                             ('0x' || substr(md5(sh), 1, 14))::BIGINT
                               % 1000000007 AS x
                      FROM sh2)
                CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i)
                GROUP BY doc_id, i),
        bands2 AS (SELECT doc_id, i // 4 AS band,
                          string_agg(v::VARCHAR, ',' ORDER BY i) AS sig
                   FROM mh2 GROUP BY doc_id, i // 4),
        cand2 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bands2 a JOIN bands2 b
                    ON a.band = b.band AND a.sig = b.sig
                       AND a.doc_id < b.doc_id),
        common2 AS (SELECT doc_a, doc_b, count(*) AS c
                    FROM cand2
                    JOIN sh2 sa ON sa.doc_id = doc_a
                    JOIN sh2 sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
                    GROUP BY 1, 2),
        pr2 AS (SELECT doc_a, doc_b
                FROM (SELECT doc_a, doc_b, c, sa.nsh AS na, sb.nsh AS nb
                      FROM common2
                      JOIN sizes2 sa ON sa.doc_id = doc_a
                      JOIN sizes2 sb ON sb.doc_id = doc_b)
                WHERE c::DOUBLE / (na + nb - c) >= 0.5),
        ed2 AS (SELECT doc_a AS a, doc_b AS b FROM pr2
                UNION SELECT doc_b, doc_a FROM pr2),
        reach2(id, r) AS (
          SELECT a, a FROM ed2
          UNION
          SELECT ed2.a, reach2.r FROM ed2 JOIN reach2 ON reach2.id = ed2.b),
        comp2 AS (SELECT id, min(r) AS rep FROM reach2 GROUP BY id),
        s2k AS (SELECT id AS doc_id, rep AS canon FROM comp2 WHERE id != rep),
        d2 AS (SELECT d1.doc_id, d1.text FROM d1
               LEFT JOIN s2k ON s2k.doc_id = d1.doc_id
               WHERE s2k.doc_id IS NULL),
        w3 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM d2),
        h3 AS (SELECT doc_id,
                      ((CASE WHEN xh >= 2147483648 THEN xh - 4294967296
                             ELSE xh END) * 4294967296 + xl)::BIGINT AS x
               FROM (SELECT doc_id,
                            ('0x' || substr(md5(w), 1, 8))::BIGINT AS xh,
                            ('0x' || substr(md5(w), 9, 8))::BIGINT AS xl
                     FROM w3)),
        s3 AS (SELECT doc_id, b,
                      sum(CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
               FROM h3 CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
               GROUP BY doc_id, b),
        sig3 AS (SELECT doc_id,
                        sum(CASE WHEN s >= 0 THEN
                          CASE WHEN b = 63 THEN -9223372036854775807 - 1
                               ELSE 1::BIGINT << b END ELSE 0 END)::BIGINT
                          AS simhash
                 FROM s3 GROUP BY doc_id),
        sig23 AS (SELECT doc_id, simhash,
                         simhash & 65535 AS b0,
                         (simhash >> 16) & 65535 AS b1,
                         (simhash >> 32) & 65535 AS b2,
                         (simhash >> 48) & 65535 AS b3
                  FROM sig3),
        cand3 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         a.simhash AS sa, b.simhash AS sb
                  FROM sig23 a JOIN sig23 b
                    ON a.b0 = b.b0 AND a.doc_id < b.doc_id
                  UNION
                  SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                  FROM sig23 a JOIN sig23 b
                    ON a.b1 = b.b1 AND a.doc_id < b.doc_id
                  UNION
                  SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                  FROM sig23 a JOIN sig23 b
                    ON a.b2 = b.b2 AND a.doc_id < b.doc_id
                  UNION
                  SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
                  FROM sig23 a JOIN sig23 b
                    ON a.b3 = b.b3 AND a.doc_id < b.doc_id),
        pr3 AS (SELECT doc_a, doc_b FROM cand3
                WHERE bit_count(xor(sa, sb)) <= 3),
        ed3 AS (SELECT doc_a AS a, doc_b AS b FROM pr3
                UNION SELECT doc_b, doc_a FROM pr3),
        reach3(id, r) AS (
          SELECT a, a FROM ed3
          UNION
          SELECT ed3.a, reach3.r FROM ed3 JOIN reach3 ON reach3.id = ed3.b),
        comp3 AS (SELECT id, min(r) AS rep FROM reach3 GROUP BY id),
        s3k AS (SELECT id AS doc_id, rep AS canon FROM comp3 WHERE id != rep)
        SELECT d.doc_id,
               CASE WHEN k1.canon IS NOT NULL THEN 'exact'
                    WHEN k2.canon IS NOT NULL THEN 'minhash'
                    WHEN k3.canon IS NOT NULL THEN 'simhash'
                    ELSE 'kept' END AS killed_by,
               coalesce(k1.canon, k2.canon, k3.canon, d.doc_id)::BIGINT
                 AS canonical_id
        FROM documents d
        LEFT JOIN s1k k1 ON k1.doc_id = d.doc_id
        LEFT JOIN s2k k2 ON k2.doc_id = d.doc_id
        LEFT JOIN s3k k3 ON k3.doc_id = d.doc_id
      """)
    )
  )

  // Winnow fingerprint table (k=5, w=4) shared by text_winnow and
  // dedup_winnow — the signature index is the corpus-sized pass; an
  // engine materializes it once and both consumers read it (the
  // sharedGraph/sharedForest discipline). Row-local extraction kernel:
  // zero shuffle.
  private def sharedWinnow(
      spark: org.apache.spark.sql.SparkSession, dir: String
  ): org.apache.spark.sql.DataFrame =
    Artifacts.get("winnow", dir)(
      Dedup
        .winnowFingerprintsRow(Q.t(spark, dir, "documents"),
          "doc_id", "text", k = 5, w = 4)
        .localCheckpoint())

  // TextRank shape shared by keywords/salience (mirrored literally in
  // textRankCtes above): window 2 (the paper's), corpus frequency ≥ 5,
  // token length ≥ 3, 3 PageRank rounds, top 100 keywords.
  private case class TextRankShared(
      keywords: org.apache.spark.sql.DataFrame, model: Map[String, Double])

  private def sharedTextRank(
      spark: org.apache.spark.sql.SparkSession, dir: String
  ): TextRankShared =
    Artifacts.get("textrank", dir) {
      val kws = graft.operators.TextRank
        .keywords(Q.t(spark, dir, "documents"), "doc_id", "text",
          window = 2, minCount = 5, minLen = 3, rounds = 3, topK = 100)
        .localCheckpoint()
      TextRankShared(
        kws,
        kws.collect().map(r => r.getString(1) -> r.getDouble(2)).toMap)
    }

  // unigram tokenizer shape shared by train/encode: max piece length 4,
  // weighted minCount 5, additive alpha 0.5, 2 hard-EM rounds.
  // `final val` literals: compile-time constants, immune to the
  // object-initialization order (`all` is declared above and would
  // otherwise read plain vals as 0 while it initializes)
  private final val UniL = 4
  private final val UniMinC = 5
  private final val UniAlpha = 0.5
  private final val UniRounds = 2

  private def sharedUnigram(
      spark: org.apache.spark.sql.SparkSession, dir: String
  ): TextAnalysis.UnigramModel =
    Artifacts.get("unigram", dir)(
      TextAnalysis.unigramTrain(Q.t(spark, dir, "documents"), "text",
        maxPieceLen = UniL, minCount = UniMinC, rounds = UniRounds,
        alpha = UniAlpha))

  // WordPiece shape shared by train/encode: 24 merges, weighted min pair
  // count 2, trained on the src0 slice (so the serving half is a genuine
  // cross-corpus application). `final val` literals for the same
  // object-init-order reason as the unigram constants above.
  private final val WpMerges = 24
  private final val WpMinPair = 2

  private case class WordPieceShared(
      merges: org.apache.spark.sql.DataFrame, vocab: Set[String])

  private def sharedWordPiece(
      spark: org.apache.spark.sql.SparkSession, dir: String
  ): WordPieceShared =
    Artifacts.get("wordpiece", dir) {
      val train = Q.t(spark, dir, "documents").filter(col("source") === "src0")
      val merges = TextAnalysis
        .wordPieceTrain(train, "text", numMerges = WpMerges,
          minPairCount = WpMinPair)
        .localCheckpoint()
      WordPieceShared(
        merges, TextAnalysis.wordPieceVocab(train, "text", merges))
    }

  /** l2-normalized 16-bucket hashed COUNT vectors per document — the
    * text_lsa feature table (doc_id as vec_id, ev DOUBLE[16]); zeros for
    * unoccupied buckets, the all-zero guard mirrors the Spark side.
    */
  private def lsaFeatureSql: String = """
        SELECT doc_id AS vec_id,
               CASE WHEN nrm > 0 THEN list_transform(l, x -> x / nrm)
                    ELSE l END AS ev
        FROM (SELECT doc_id, l,
                     sqrt(list_sum(list_transform(l, x -> x * x))) AS nrm
              FROM (SELECT doc_id, list(tfv ORDER BY b) AS l
                    FROM (SELECT d.doc_id, gb.b,
                                 coalesce(tf.tf, 0)::DOUBLE AS tfv
                          FROM (SELECT DISTINCT doc_id FROM documents) d
                          CROSS JOIN (SELECT unnest(generate_series(0, 15))
                                      AS b) gb
                          LEFT JOIN (SELECT doc_id,
                                       ('0x' || substr(md5(w), 1, 14))::BIGINT
                                         % 16 AS b,
                                       count(*)::BIGINT AS tf
                                     FROM (SELECT doc_id,
                                             unnest(string_split(text, ' '))
                                               AS w
                                           FROM documents)
                                     WHERE w <> '' GROUP BY 1, 2) tf
                            USING (doc_id, b))
                    GROUP BY doc_id))"""

  /** Spark half of [[lsaFeatureSql]]: (doc_id, fv) with fv the
    * l2-normalized dense 16-bucket count vector. Counts are exact longs
    * into exact doubles; the norm is the same ascending left fold both
    * engines spell.
    */
  private def lsaFeatures(
      spark: org.apache.spark.sql.SparkSession, dir: String
  ): org.apache.spark.sql.DataFrame = {
    val docs = Q.t(spark, dir, "documents")
    val tf = docs
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"),
        (Dedup.md5Long(col("w")) % 16).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("tf"))
    val dense = tf
      .groupBy(col("doc_id"))
      .agg(array((0 until 16).map(b =>
        coalesce(sum(when(col("b") === b, col("tf"))), lit(0L))
          .cast("double")): _*).as("raw"))
    docs.select(col("doc_id"))
      .join(dense, Seq("doc_id"), "left")
      .withColumn("raw",
        coalesce(col("raw"), expr("array_repeat(0.0d, 16)")))
      .withColumn("nrm",
        sqrt(graft.functions.VectorExpressions.dotFast(col("raw"), col("raw"))))
      .select(
        col("doc_id"),
        when(col("nrm") > 0,
          expr("transform(raw, x -> x / nrm)"))
          .otherwise(col("raw")).as("fv"))
  }

  /** One smoothed-logp map CTE over a vocab/tot pair: vm$tag holds
    * map(piece → ln((c+α)/(C+αV))) for the round's Viterbi.
    */
  private def uniVmCte(tag: Int): String = s"""
        vm$tag AS MATERIALIZED (SELECT map(list(piece ORDER BY piece),
                        list(ln((c + $UniAlpha) / (t.ct + $UniAlpha * t.v))
                             ORDER BY piece)) AS m
                    FROM vocab$tag CROSS JOIN tot$tag t)"""

  /** One Viterbi pass over the word vocabulary under the map `vmPrev`:
    * d$r = the forward DP (state = per-word dp/bp lists, one recursion
    * step per character; candidate scores as a list, argmax = list_min
    * of the NEGATED scores with first-match list_position — exactly the
    * ascending-j strict-max tie rule of
    * [[graft.operators.TextAnalysis.viterbiSegment]]), b$r = the
    * backpointer walk, seg$r = the final segmentations. When
    * `withCounts`, cnt/vocab/tot re-estimate the model (the M-step) for
    * the next round.
    */
  private def uniRoundCte(r: Int, vmPrev: String, vocabPrev: String,
      withCounts: Boolean): String = s"""
        d$r(w, c, n, i, dp, bp) AS (
          SELECT w, c, length(w), 0, [0.0]::DOUBLE[], [0]::BIGINT[] FROM wc
          UNION ALL
          SELECT x.w, x.c, x.n, x.i + 1,
                 list_append(x.dp, -list_min(x.sl)),
                 list_append(x.bp,
                   x.lo + list_position(x.sl, list_min(x.sl)) - 1)
          FROM (SELECT dd.w, dd.c, dd.n, dd.i, dd.dp, dd.bp,
                       greatest(0, dd.i + 1 - $UniL)::BIGINT AS lo,
                       list_transform(
                         generate_series(greatest(0, dd.i + 1 - $UniL), dd.i),
                         j -> -(dd.dp[j + 1] + coalesce(
                                 list_extract(map_extract($vmPrev.m,
                                   substr(dd.w, (j + 1)::INT,
                                          (dd.i + 1 - j)::INT)), 1),
                                 -1e18))) AS sl
                FROM d$r dd CROSS JOIN $vmPrev
                WHERE dd.i < dd.n) x),
        f$r AS MATERIALIZED (SELECT w, c, n, dp, bp FROM d$r WHERE i = n),
        b$r(w, c, pos, pieces) AS (
          SELECT w, c, n, []::VARCHAR[] FROM f$r
          UNION ALL
          SELECT b.w, b.c, f.bp[b.pos + 1],
                 list_prepend(substr(b.w, (f.bp[b.pos + 1] + 1)::INT,
                                     (b.pos - f.bp[b.pos + 1])::INT),
                              b.pieces)
          FROM b$r b JOIN f$r f ON f.w = b.w WHERE b.pos > 0),
        seg$r AS MATERIALIZED (SELECT w, c, pieces FROM b$r WHERE pos = 0)""" +
    (if (!withCounts) "" else s""",
        cnt$r AS MATERIALIZED (SELECT piece, sum(c)::BIGINT AS c FROM (
                     SELECT unnest(pieces) AS piece, c FROM seg$r)
                   GROUP BY piece),
        vocab$r AS MATERIALIZED (SELECT v.piece, coalesce(t.c, 0)::BIGINT AS c
                     FROM $vocabPrev v
                     LEFT JOIN cnt$r t ON t.piece = v.piece),
        tot$r AS MATERIALIZED (SELECT sum(c)::BIGINT AS ct,
                          count(*)::BIGINT AS v FROM vocab$r)""")

  /** The full 2-round unigram hard-EM replay: weighted word counts →
    * candidate substring census → fixed vocab (singles always kept) →
    * alternating Viterbi / count rounds. Ends with vocab2/tot2 (the
    * trained model) ready for a final scoring select or a third
    * encode-side Viterbi pass.
    */
  private def unigramSql: String = s"""
        WITH RECURSIVE
        wc AS MATERIALIZED (SELECT w, count(*)::BIGINT AS c FROM (
                 SELECT unnest(string_split(text, ' ')) AS w FROM documents)
               WHERE w <> '' GROUP BY w),
        cand AS MATERIALIZED (SELECT piece, sum(c)::BIGINT AS c FROM (
                   SELECT substr(w, p::INT, l::INT) AS piece, c
                   FROM wc,
                        unnest(generate_series(1, length(w))) AS gp(p),
                        unnest(generate_series(1, $UniL)) AS gl(l)
                   WHERE p + l - 1 <= length(w)) GROUP BY piece),
        vocab0 AS MATERIALIZED (SELECT piece, c FROM cand
                   WHERE length(piece) = 1 OR c >= $UniMinC),
        tot0 AS MATERIALIZED (SELECT sum(c)::BIGINT AS ct,
                         count(*)::BIGINT AS v FROM vocab0),
        ${uniVmCte(0)},
        ${uniRoundCte(1, "vm0", "vocab0", withCounts = true)},
        ${uniVmCte(1)},
        ${uniRoundCte(2, "vm1", "vocab1", withCounts = true)}
  """

  /** Shared winnowing-selection CTE block (→ `wsel`: doc_id, sel key
    * rows): k-gram md5-prefix hashes, the rightmost-min-in-window key
    * trick, full-window starts only — mirrors
    * [[graft.operators.Dedup.winnowFingerprints]] exactly.
    */
  private def winnowSql(k: Int, w: Int): String = s"""
        WITH wg AS (SELECT doc_id, text, length(text) - ${k - 1} AS m
              FROM documents WHERE length(text) >= $k),
        wpos AS (SELECT doc_id, m, unnest(generate_series(1, m)) AS p, text
                 FROM wg),
        wkey AS (SELECT doc_id, m, p,
                        substr(md5(substr(text, p::INT, $k)), 1, 8) ||
                        lpad((1000000000 - p)::VARCHAR, 10, '0') AS kk
                 FROM wpos),
        wwin AS (SELECT doc_id, m, p,
                        min(kk) OVER (PARTITION BY doc_id ORDER BY p
                                      ROWS BETWEEN CURRENT ROW
                                      AND ${w - 1} FOLLOWING) AS sel
                 FROM wkey),
        wsel AS (SELECT DISTINCT doc_id, sel FROM wwin
                 WHERE p <= greatest(1, m - ${w - 1}))
  """
}
