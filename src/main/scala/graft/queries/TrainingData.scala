package graft.queries

import graft.{GQuery, Tables}
import graft.functions.TextSim
import graft.functions.TextSim.{Dialect, duck, spark => sprk}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Training-data pipeline operators over `documents` / `embeddings` —
  * the capability layer a 100 TB LLM-data pipeline needs beyond the
  * reference's ELT surface (SURVEY.md §7.2 step 7):
  *
  *  - deduplication: exact (t34), n-gram Jaccard (t35), MinHash+LSH (t36),
  *    SimHash (t37), cluster resolution over the pair graph (t44),
  *    embedding-cosine near-dup with keeper manifest (t54), SemDeDup
  *    within-cluster semantic dedup (t56);
  *  - similarity search: brute-force cosine top-k (t38),
  *    hyperplane-LSH buckets (t39), trained IVF (t41), int8
  *    scalar-quantized index with exact re-rank (t48), product
  *    quantization with ADC scoring (t62), IVF-PQ composition (t63);
  *  - text analysis: token counting (t30), quality scoring (t31),
  *    language ID (t32), document fingerprinting (t33), repetition
  *    gate (t46), bigram-LM fluency scoring (t59), TF-IDF keyword
  *    extraction (t61), PII redaction (t60);
  *  - corpus curation: composed filter pass (t42), deterministic split
  *    (t43), benchmark decontamination (t45), source-mix report (t47),
  *    deterministic shuffle-shard (t57), temperature mixing (t58),
  *    sliding-window chunking (t64), per-source quality calibration
  *    (t65);
  *  - multimodal: opaque binary payload + typed metadata extraction (t40).
  *
  * Each query is ONE SQL template rendered for Spark and for the DuckDB
  * oracle (see [[TextSim]] for the determinism rules), or — where the
  * Spark plan needs driver-side staging (t41 centroid training, t44
  * convergence, t48 quantizer stats) — a Spark fn plus an equivalent
  * one-shot oracle SQL. Scale notes: everything is shuffle-minimal —
  * per-document signatures are computed scan-side (no shuffle), pair
  * generation goes through sharded equi-joins on shingle/band/bucket
  * keys (never a cross join of the corpus), and the only nested-loop
  * joins (t38/t48 scoring) keep one side bounded (≤25 queries).
  */
object TrainingData {

  /** Render `template` for Spark (with temp views registered) and DuckDB. */
  private def dual(headline: Boolean = false)(template: Dialect => String): GQuery =
    GQuery(
      fn = (s: SparkSession, dir: String) => {
        graft.functions.GraftFunctions.registerAll(s)
        Tables.documents(s, dir).createOrReplaceTempView("documents")
        Tables.embeddings(s, dir).createOrReplaceTempView("embeddings")
        s.sql(template(sprk))
      },
      oracle = Some(template(duck)),
      headline = headline)

  /** t30 — token counting: whitespace tokens + BPE-ish regex tokens +
    * average token length. */
  private val t30 = dual() { d =>
    val toks = TextSim.tokens(d, "text")
    val nBpe =
      if (d eq sprk) raw"regexp_count(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')"
      else raw"len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))"
    s"""SELECT doc_id,
       |  CAST(${d.size}($toks) AS BIGINT) AS n_tokens,
       |  CAST($nBpe AS BIGINT) AS n_bpe_tokens,
       |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(${d.size}($toks) AS DOUBLE) AS avg_token_len
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** t31 — quality scoring: distinct-token ratio, stopword ratio, length
    * score, combined quality (fixed-order double arithmetic). */
  private val t31 = dual() { d =>
    val toks = TextSim.tokens(d, "text")
    val filterFn = if (d eq sprk) "filter" else "list_filter"
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    CAST(${d.size}($toks) AS BIGINT) AS n_tokens,
       |    CAST(${d.size}(${d.arrayDistinct}($toks)) AS BIGINT) AS n_distinct,
       |    CAST(${d.size}($filterFn($toks, w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
       |  FROM documents)
       |SELECT doc_id, lang, n_tokens, n_distinct, n_stop,
       |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_ratio,
       |  CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
       |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.5
       |    + (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.3
       |    + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** t32 — language ID by marker-word scoring (n-gram heuristic shape):
    * per-language marker counts, argmax with alphabetical tie-break. */
  private val t32 = dual() { d =>
    val toks = TextSim.tokens(d, "text")
    val filterFn = if (d eq sprk) "filter" else "list_filter"
    def score(ws: Seq[String]) =
      s"CAST(${d.size}($filterFn($toks, w -> ${ws.map(w => s"w = '$w'").mkString(" OR ")})) AS BIGINT)"
    s"""WITH s AS (
       |  SELECT doc_id, lang,
       |    ${score(Seq("the", "a", "row"))} AS s_en,
       |    ${score(Seq("table", "join"))} AS s_de,
       |    ${score(Seq("data", "line"))} AS s_es,
       |    ${score(Seq("query", "scan"))} AS s_fr,
       |    ${score(Seq("spark", "window"))} AS s_zh
       |  FROM documents)
       |SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
       |  CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
       |       WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
       |       WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
       |       WHEN s_fr >= s_zh THEN 'fr'
       |       ELSE 'zh' END AS pred_lang
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** t33 — document fingerprinting: rolling polynomial hash over word
    * hashes + winnowing-style min-shingle-hash. */
  private val t33 = dual() { d =>
    val wh = TextSim.wordHashes(d, "text")
    s"""WITH w AS (SELECT doc_id, $wh AS wh FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    ${d.foldLong("wh", 7L, s"(a, h) -> (a * 131 + h) % ${TextSim.P}")} AS fingerprint,
       |    ${d.arrayMin}(${TextSim.shingleHashes(d, "wh")}) AS min_shingle,
       |    CAST(${d.size}(wh) AS BIGINT) AS n_tokens
       |  FROM w WHERE ${d.size}(wh) >= 3)
       |SELECT doc_id, fingerprint, min_shingle, n_tokens
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** t34 — exact deduplication: hash-groupBy on full content; keeper = min
    * doc id per group. One shuffle on the (hashable) text key. */
  private val t34 = dual() { d =>
    s"""SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies,
       |  CAST(length(text) AS BIGINT) AS n_chars
       |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin
  }

  /** Shared shingle-signature SQL: per-doc distinct 3-gram shingle-hash
    * set (the expensive scan-side computation — built once, PERSISTED on
    * the Spark side so self-joins reuse it instead of recomputing). */
  private def shSql(d: Dialect): String =
    {
      // Shingle sets are SORTED at build time (once per document) so the
      // pair-verify path can count overlap with the two-pointer
      // graft_inter_count kernel instead of a per-pair hash build; the
      // oracle's list_intersect is order-insensitive, so sorting changes
      // no value on either side.
      val sortFn = if (d eq sprk) "sort_array" else "list_sort"
      s"""SELECT doc_id, $sortFn(${d.arrayDistinct}(${TextSim.shingleHashes(d, "wh")})) AS shs
         |FROM (SELECT doc_id, ${TextSim.wordHashes(d, "text")} AS wh FROM documents)
         |WHERE ${d.size}(wh) >= 3""".stripMargin
    }

  /** Candidate-pair + exact-verify tail shared by t35/t36: exact Jaccard
    * (intersection over union of the FULL shingle sets) computed once per
    * candidate pair, threshold 0.5. `sh`/`cand` are views (Spark) or CTEs
    * (DuckDB). */
  private def verifyTail(d: Dialect, sh: String, cand: String): String = {
    // Spark counts overlap with the codegen'd two-pointer kernel over
    // the build-time-sorted sets; the oracle keeps the order-insensitive
    // built-in — identical counts, hash-equal jaccard.
    val inter =
      if (d eq sprk) "graft_inter_count(sa.shs, sb.shs)"
      else s"CAST(${d.size}(${d.arrayIntersect}(sa.shs, sb.shs)) AS BIGINT)"
    s"""SELECT doc_a, doc_b,
       |  CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE) AS jaccard
       |FROM (
       |  SELECT doc_a, doc_b,
       |    $inter AS c,
       |    CAST(${d.size}(sa.shs) AS BIGINT) AS na, CAST(${d.size}(sb.shs) AS BIGINT) AS nb
       |  FROM $cand JOIN $sh sa ON doc_a = sa.doc_id JOIN $sh sb ON doc_b = sb.doc_id)
       |WHERE CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Hot-shingle document-frequency cap for candidate generation (t35):
    * shingles appearing in more than this many documents generate no
    * candidate pairs (they carry ~no similarity signal but quadratic
    * cost — the standard inverted-index mitigation at corpus scale).
    * Exact Jaccard is still computed on full shingle sets. */
  private val dfCap = 20

  /** t35 — n-gram Jaccard near-dup pairs: inverted shingle index with a
    * document-frequency cap → candidate equi-join (never a cross join) →
    * exact Jaccard ≥ 0.5 on the full shingle sets. The df-capped posting
    * list is persisted ONCE and both sides of the candidate self-join
    * read the cached copy — without it Spark recomputes the explode +
    * HAVING filter per join side, doubling the heaviest stage. */
  private val t35 = GQuery(
    fn = (s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents")
      val sh = graft.CacheJanitor.register(s.sql(shSql(sprk)).persist())
      sh.createOrReplaceTempView("t35_sh")
      s.sql(
        s"""SELECT doc_id, explode(shs) AS h FROM t35_sh""").createOrReplaceTempView("t35_ex")
      val exf = graft.CacheJanitor.register(s.sql(
        s"""SELECT doc_id, h FROM t35_ex
           |WHERE h IN (SELECT h FROM t35_ex GROUP BY h HAVING count(*) <= $dfCap)""".stripMargin)
        .persist())
      exf.createOrReplaceTempView("t35_exf")
      s.sql(
        s"""SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |FROM t35_exf a JOIN t35_exf b
           |  ON a.h = b.h AND a.doc_id < b.doc_id""".stripMargin)
        .createOrReplaceTempView("t35_cand")
      s.sql(verifyTail(sprk, "t35_sh", "t35_cand"))
    },
    oracle = Some {
      val d = duck
      s"""WITH sh AS (${shSql(d)}),
         |ex AS (SELECT doc_id, ${d.explode}(shs) AS h FROM sh),
         |keep AS (SELECT h FROM ex GROUP BY h HAVING count(*) <= $dfCap),
         |exf AS (SELECT ex.doc_id, ex.h FROM ex JOIN keep ON ex.h = keep.h),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM exf a JOIN exf b ON a.h = b.h AND a.doc_id < b.doc_id)
         |${verifyTail(d, "sh", "cand")}""".stripMargin
    },
    headline = true)

  /** MinHash 4×4 banding pipeline (Spark side), shared by t36 (the pair
    * report) and t44 (cluster resolution over the pairs): 16 minhashes →
    * 4 bands × 4 rows → band-bucket equi-join for candidates → exact
    * Jaccard verify ≥ 0.5. Banding prunes the pair space before any
    * exact work — the property that keeps near-dup detection
    * sub-quadratic at 100 TB. Views are registered under `pfx`. */
  private def minhashPairs(s: SparkSession, dir: String, pfx: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    Tables.documents(s, dir).createOrReplaceTempView("documents")
    val d = sprk
    val mhCols = TextSim.minhashCoeffs.zipWithIndex
      .map { case ((a, b), i) => s"${TextSim.minhash(d, "shs", a, b)} AS mh${i + 1}" }
      .mkString(", ")
    // Persist the shingle frame BEFORE the 16 minhash projections: each
    // minhash references `shs`, and over a plain subquery Catalyst
    // inlines the whole shingle pipeline into every one (the t37/t59
    // lambda-inlining trap — 16× recompute of the per-doc hash work).
    val sh = graft.CacheJanitor.register(s.sql(shSql(d)).persist())
    sh.createOrReplaceTempView(s"${pfx}_sh") // verifyTail needs (doc_id, shs)
    val sig = graft.CacheJanitor.register(
      s.sql(s"SELECT doc_id, shs, $mhCols FROM ${pfx}_sh").persist())
    sig.createOrReplaceTempView(s"${pfx}_sig")
    val stackArgs = (0 until 4).map { b =>
      s"${b + 1}, mh${4 * b + 1}, mh${4 * b + 2}, mh${4 * b + 3}, mh${4 * b + 4}"
    }.mkString(", ")
    s.sql(
      s"""SELECT doc_id, stack(4, $stackArgs) AS (band, x1, x2, x3, x4)
         |FROM ${pfx}_sig""".stripMargin).createOrReplaceTempView(s"${pfx}_bands")
    s.sql(
      s"""SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM ${pfx}_bands a JOIN ${pfx}_bands b
         |  ON a.band = b.band AND a.x1 = b.x1 AND a.x2 = b.x2
         | AND a.x3 = b.x3 AND a.x4 = b.x4 AND a.doc_id < b.doc_id""".stripMargin)
      .createOrReplaceTempView(s"${pfx}_cand")
    s.sql(verifyTail(d, s"${pfx}_sh", s"${pfx}_cand"))
  }

  /** The same pipeline as DuckDB CTE text (everything up to and including
    * a `pairs` CTE holding the verified Jaccard ≥ 0.5 pairs). */
  private def minhashPairsDuckCtes: String = {
    val d = duck
    val mhCols = TextSim.minhashCoeffs.zipWithIndex
      .map { case ((a, b), i) => s"${TextSim.minhash(d, "shs", a, b)} AS mh${i + 1}" }
      .mkString(", ")
    val bands = (0 until 4).map { b =>
      s"SELECT doc_id, ${b + 1} AS band, mh${4 * b + 1} AS x1, mh${4 * b + 2} AS x2, mh${4 * b + 3} AS x3, mh${4 * b + 4} AS x4 FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""sh AS (${shSql(d)}),
       |sig AS (SELECT doc_id, shs, $mhCols FROM sh),
       |bands AS (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.x1 = b.x1 AND a.x2 = b.x2
       |   AND a.x3 = b.x3 AND a.x4 = b.x4 AND a.doc_id < b.doc_id),
       |pairs AS (
       |${verifyTail(d, "sh", "cand")})""".stripMargin
  }

  /** t36 — MinHash + LSH dedup pair report. */
  private val t36 = GQuery(
    fn = (s, dir) => minhashPairs(s, dir, "t36"),
    oracle = Some(
      s"""WITH $minhashPairsDuckCtes
         |SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""".stripMargin),
    headline = true)

  /** t37 — SimHash near-dup: 30-bit signature per doc, pairs at Hamming
    * distance ≤ 3. The DEFINITION (and the DuckDB oracle) is all-pairs;
    * the Spark plan is sub-quadratic multi-table pigeonhole banding
    * (Manku et al., WWW'07 — public): split the signature into 6
    * INTERLEAVED 5-bit blocks (block b = bits j with j mod 6 = b, a fixed
    * bit permutation so a run of concentrated bit-majorities spreads over
    * all blocks instead of saturating one), and build C(6,3) = 20 band
    * tables, each keyed on a distinct 3-block combination (15 bits).
    *
    * Recall is exact, not probabilistic: ≤ 3 differing bits touch ≤ 3
    * blocks, so ≥ 3 blocks match exactly, and every 3-subset of blocks is
    * one of the 20 tables — the pair collides in at least one table. The
    * exact `bit_count(xor) ≤ 3` verify then reproduces the all-pairs
    * output bit-for-bit. 15-bit keys carry enough entropy to stay
    * sub-quadratic even on topic-uniform corpora (where single-block
    * 5-bit keys — the earlier banding attempt, commit fd33663 — collapse
    * into giant buckets); residual candidate cost is output-bound: a
    * bucket of k docs with truly identical keys yields k² candidates only
    * where the corpus genuinely contains k near-dups. Signatures are
    * persisted once (8-byte keys) and reused by the band build and the
    * verify joins; the plan has NO corpus×corpus join
    * (PlanPropertiesSpec pins this). */
  private val t37 = {
    // blkExpr(b) = 5-bit value of interleaved block b, bits (6i + b).
    def blkExpr(b: Int): String =
      (0 until 5).map { i =>
        val p = 1L << (6 * i + b)
        s"((sim div $p) % 2) * ${1L << i}"
      }.mkString("(", " + ", ")")
    val combos = (for {
      b1 <- 0 until 6; b2 <- b1 + 1 until 6; b3 <- b2 + 1 until 6
    } yield (b1, b2, b3)).toSeq
    GQuery(
      fn = (s, dir) => {
        graft.functions.GraftFunctions.registerAll(s)
        Tables.documents(s, dir).createOrReplaceTempView("documents")
        val d = sprk
        // The 30 simhash bit expressions each reference `wh`; as a plain
        // projection Catalyst duplicates the hash pipeline into every
        // one (measured 2.6 s vs 1.0 s at sf0.1) — persist the word-hash
        // frame so each bit fold reads a cached column.
        val wf = graft.CacheJanitor.register(s.sql(
          s"SELECT doc_id, ${TextSim.wordHashes(d, "text")} AS wh FROM documents").persist())
        wf.createOrReplaceTempView("t37_wh")
        val sig = s.sql(
          s"""SELECT doc_id, ${TextSim.simhash(d, "wh")} AS sim
             |FROM t37_wh WHERE ${d.size}(wh) >= 1""".stripMargin).persist()
        graft.CacheJanitor.register(sig)
        sig.createOrReplaceTempView("t37_sig")
        val blkCols = (0 until 6).map(b => s"${blkExpr(b)} AS blk$b").mkString(", ")
        val stackArgs = combos.zipWithIndex.map { case ((b1, b2, b3), t) =>
          s"$t, blk$b1 * 1024 + blk$b2 * 32 + blk$b3"
        }.mkString(", ")
        // Bands carry the 8-byte signature itself, so the Hamming verify
        // is a bit_count inside the band join — filtering BEFORE the
        // distinct and sparing two candidate-sized joins back to the
        // signature table (the candidate set is ~2.4× the output; at
        // sf0.1 that's 2.3M joined rows × 2 avoided).
        s.sql(
          s"""SELECT doc_id, sim, stack(${combos.size}, $stackArgs) AS (tbl, bkey)
             |FROM (SELECT doc_id, sim, $blkCols FROM t37_sig)""".stripMargin)
          .createOrReplaceTempView("t37_bands")
        s.sql(
          s"""SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(bit_count(${d.xor("a.sim", "b.sim")}) AS BIGINT) AS hamming
             |FROM t37_bands a JOIN t37_bands b
             |  ON a.tbl = b.tbl AND a.bkey = b.bkey AND a.doc_id < b.doc_id
             |WHERE bit_count(${d.xor("a.sim", "b.sim")}) <= 3""".stripMargin)
          .createOrReplaceTempView("t37_cand")
        s.sql(
          s"""SELECT doc_a, doc_b, hamming FROM t37_cand
             |ORDER BY doc_a, doc_b""".stripMargin)
      },
      oracle = Some {
        val d = duck
        s"""WITH w AS (SELECT doc_id, ${TextSim.wordHashes(d, "text")} AS wh FROM documents),
           |s AS (SELECT doc_id, ${TextSim.simhash(d, "wh")} AS sim FROM w WHERE ${d.size}(wh) >= 1),
           |pairs AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    CAST(bit_count(${d.xor("a.sim", "b.sim")}) AS BIGINT) AS hamming
           |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, hamming FROM pairs
           |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin
      })
  }

  /** t38 — brute-force cosine kNN baseline over a BOUNDED query set: at
    * most 25 fixed queries (`vec_id % 100 = 0 AND vec_id < 2500`) against
    * the whole corpus; top-5 per query. The bounded-query contract is the
    * scale split: exact kNN is O(|Q|·n) — linear in the corpus only while
    * |Q| is a constant (this baseline); corpus-scale all-vs-all scoring is
    * what t39/t41 bucket for. The query side broadcasts; the corpus
    * streams. */
  private val t38 = dual(headline = true) { d =>
    s"""WITH v AS (
       |  SELECT vec_id, embedding, ${TextSim.norm2(d, "embedding")} AS n2 FROM embeddings),
       |q AS (SELECT * FROM v WHERE vec_id % 100 = 0 AND vec_id < 2500),
       |scored AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |    ${TextSim.dot(d, "q.embedding", "v.embedding")} / (sqrt(q.n2) * sqrt(v.n2)) AS cosine
       |  FROM q JOIN v ON v.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine, rnk FROM ranked
       |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin
  }

  /** t39 — LSH-bucketed similarity with SCALE-PARAMETERIZED buckets and
    * Hamming-1 multi-probe: the bucket count is a deterministic integer
    * ladder over count(*) (~16 vectors/bucket, [[TextSim.lshMask]]) so
    * per-bucket pair cost stays bounded as the corpus grows — the fixed
    * 256 buckets of the first cut went O((n/256)²). Each vector probes
    * its own bucket plus every 1-bit-flip neighbor (recall for vectors
    * that straddle one hyperplane); the probe array is static over all
    * 20 planes, and a `probe < mask` filter drops the dead flips (keys
    * ≥ mask match nothing) before the join, so only the log2(mask)+1
    * live probes ship. Candidates via the probe→bucket equi-join, then
    * exact cosine ≥ 0.4. */
  private val t39 = GQuery(
    fn = (s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      Tables.embeddings(s, dir).createOrReplaceTempView("embeddings")
      val (v, mask) = lshEncodedFrame(s)
      v.createOrReplaceTempView("t39_v")
      s.sql(
        s"""WITH ${lshTailCtes(sprk, "t39_v", mask.toString)}
           |SELECT vec_a, vec_b, bucket, cosine FROM pairs
           |ORDER BY vec_a, vec_b""".stripMargin)
    },
    oracle = Some {
      s"""WITH ${lshPairCtes(duck)}
         |SELECT vec_a, vec_b, bucket, cosine FROM pairs
         |ORDER BY vec_a, vec_b""".stripMargin
    })

  /** The hyperplane-LSH candidate/verify chain over `embeddings` as a
    * CTE list ending in `pairs` = (vec_a, vec_b, bucket, cosine) with
    * exact cosine ≥ 0.4 — shared by t39 (the pair report) and t54
    * (dedup resolution over the pair graph). Candidates only ever come
    * from the probe→bucket equi-join; no corpus×corpus join exists in
    * the chain. */
  private def lshPairCtes(d: Dialect): String = {
    s"""cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       |m AS (SELECT ${TextSim.lshMask("n")} AS mask FROM cnt),
       |v AS (
       |  SELECT vec_id, embedding, ${TextSim.norm2(d, "embedding")} AS n2,
       |    ${TextSim.lshCode(d, "embedding")} % (SELECT mask FROM m) AS bucket
       |  FROM embeddings),
       |${lshTailCtes(d, "v", "(SELECT mask FROM m)")}""".stripMargin
  }

  /** The probe/candidate/verify tail of the LSH chain over an encoded
    * view `v` = (vec_id, embedding, n2, bucket) — split out so the
    * Spark side can MATERIALIZE `v` once ([[lshEncodedFrame]]) while
    * the oracle keeps its single CTE chain. */
  private def lshTailCtes(d: Dialect, v: String, maskExpr: String): String = {
    val probes = d.arrayOf("bucket" +: (0 until TextSim.lshPlanes)
      .map(k => d.xor("bucket", (1L << k).toString)))
    s"""p AS (SELECT vec_id, probe
       |      FROM (SELECT vec_id, ${d.explode}($probes) AS probe FROM $v) pr
       |      WHERE probe < $maskExpr),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM p a JOIN $v b ON a.probe = b.bucket AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT vec_a, vec_b, a.bucket AS bucket,
       |    ${TextSim.dot(d, "a.embedding", "b.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
       |  FROM cand JOIN $v a ON vec_a = a.vec_id JOIN $v b ON vec_b = b.vec_id),
       |pairs AS (SELECT vec_a, vec_b, bucket, cosine FROM scored WHERE cosine >= 0.4)"""
      .stripMargin
  }

  /** Spark-side LSH-encoded corpus, MATERIALIZED once: Catalyst inlines
    * a multiply-referenced deterministic CTE, so the plain chain
    * re-scans `embeddings` and re-computes the 20-plane code + norm for
    * EVERY reference of `v` (4 in the tail — 4 corpus passes at scale
    * for one logical encode; the t37/t59/t62 inlining trap, found in
    * the r19 plan sweep: 20 parquet scans in t39's plan). The mask is
    * computed driver-side from the same count the CTE ladder folds
    * ([[TextSim.lshMaskValue]] ≡ `lshMask(n)` — spec-pinned), so the
    * persisted frame is bit-identical to CTE `v`. Registered with
    * CacheJanitor; released at the driver's next barrier. */
  private def lshEncodedFrame(s: SparkSession): (org.apache.spark.sql.DataFrame, Long) = {
    val d = sprk
    val mask = TextSim.lshMaskValue(
      s.table("embeddings").count()).toLong
    val v = s.sql(
      s"""SELECT vec_id, embedding, ${TextSim.norm2(d, "embedding")} AS n2,
         |  ${TextSim.lshCode(d, "embedding")} % $mask AS bucket
         |FROM embeddings""".stripMargin)
    (graft.CacheJanitor.register(v.persist()), mask)
  }

  /** t40 — multimodal plumbing: text → opaque binary payload column +
    * typed metadata (byte length, head/tail hex, 64-byte frame count) —
    * the schema/partitioning shape for image/audio columns; the real
    * decoder is the stubbed batch kernel in graft.multimodal. */
  private val t40 = dual() { d =>
    val bin = if (d eq sprk) "encode(text, 'UTF-8')" else "encode(text)"
    val blen = if (d eq sprk) "length(b)" else "octet_length(b)"
    // DuckDB 1.0 has no BLOB substring — slice the hex string instead
    // (2 hex chars per byte) so both engines do the same string math.
    s"""WITH b AS (SELECT doc_id, $bin AS b FROM documents)
       |SELECT doc_id,
       |  CAST($blen AS BIGINT) AS n_bytes,
       |  substring(hex(b), 1, 16) AS head_hex,
       |  substring(hex(b), 2 * $blen - 15, 16) AS tail_hex,
       |  CAST(floor($blen / 64) AS BIGINT) AS n_frames
       |FROM b ORDER BY doc_id""".stripMargin
  }

  // ── shared ANN machinery (t41 / t48 / t49) ─────────────────────────

  /** Exact double literal: `Double.toString` round-trips bit-identically
    * through Spark's parser; the `D` suffix pins DOUBLE. */
  private[graft] def litD(v: Double): String = {
    val s0 = v.toString
    if (s0.contains('.') || s0.contains('E')) s0 + "D" else s0 + ".0D"
  }

  /** Top-3 nearest cells from a per-row centroid-distance array: sorted
    * (dist, idx) structs (ties break on idx, consistent with first-min
    * cell assignment) — no window, no join. */
  private[graft] def top3Cells(d: Dialect, ds: String): String = topNCells(d, ds, 3)

  /** The `n` nearest cell indices by ascending distance — the IVF probe
    * set. The registry queries pin n=3 (their oracle-replayed bench
    * form); the PERSISTED indexes scale n with the cell ladder
    * ([[graft.operators.AnnIndex.probesFor]]) so the probed corpus
    * FRACTION survives refreezes instead of halving per ladder step. */
  private[graft] def topNCells(d: Dialect, ds: String, n: Int): String =
    if (d eq sprk)
      s"transform(slice(array_sort(zip_with($ds, sequence(1, size($ds)), " +
        s"(dd, ii) -> named_struct('d', dd, 'i', ii))), 1, $n), s0 -> CAST(s0.i AS BIGINT))"
    else
      s"list_transform(list_sort(list_transform(range(1, len($ds) + 1), " +
        s"ii -> {'d': $ds[ii], 'i': ii}))[1:$n], s0 -> CAST(s0.i AS BIGINT))"

  /** [[topNCells]] with an EXPRESSION-valued probe count — the oracle
    * form for queries replaying the ladder-aware default
    * (`max(3, cells/4)`, [[graft.operators.AnnIndex.probesFor]]) whose
    * value depends on the corpus count and so cannot be a build-time
    * literal in SQL that must hold at every SF. */
  private[graft] def topNCellsExpr(d: Dialect, ds: String, nExpr: String): String =
    if (d eq sprk)
      s"transform(slice(array_sort(zip_with($ds, sequence(1, size($ds)), " +
        s"(dd, ii) -> named_struct('d', dd, 'i', ii))), 1, CAST($nExpr AS INT)), s0 -> CAST(s0.i AS BIGINT))"
    else
      s"list_transform(list_slice(list_sort(list_transform(range(1, len($ds) + 1), " +
        s"ii -> {'d': $ds[ii], 'i': ii})), 1, CAST($nExpr AS BIGINT)), s0 -> CAST(s0.i AS BIGINT))"

  /** Driver-stepwise bounded k-means — the t41/t49 coarse quantizer.
    * Seed = first `cells` vectors; `ivfLloydIters` deterministic Lloyd
    * iterations over the first `cells × ivfTrainPerCell` vectors with
    * sorted-fold means (left-to-right double sums over vec_id-sorted
    * vectors); each step collects only `cells` centroid rows (a bounded
    * scalar collect, like the two-pass id offsets). Returns the trained
    * centroid array as a broadcast-literal SQL expression — doubles
    * round-trip exactly through `Double.toString` ↔ parse. */
  private def trainCentroidLiteral(s: SparkSession): String =
    centsLit(trainCentroids(s, "embeddings"))

  /** Scala mirror of [[TextSim.idShuffle]] — the driver-side trainers
    * rank seed rows by the same scramble the SQL sample uses. */
  private[graft] def shuffleVal(id: Long): Long =
    ((id % TextSim.P) * 1103515245L) % TextSim.P

  /** Render a centroid array as the broadcast-literal expression. */
  private[graft] def centsLit(cents: Array[Array[Double]]): String =
    cents.map(_.map(litD).mkString("array(", ", ", ")")).mkString("array(", ", ", ")")

  /** The trainer itself, over any `(vec_id, embedding)` view — also the
    * quantizer-training entry point for the persisted incremental index
    * (`operators.AnnIndex`). The training sample is the `cap` rows with
    * the smallest [[TextSim.idShuffle]] values (an UNBIASED systematic
    * sample across the id space — an id-ordered prefix silently skews
    * the quantizer whenever ids correlate with source or time, which at
    * scale they always do), collected in vec_id order so every
    * downstream fold replays the oracle's exact arithmetic. The
    * hash-ordered `LIMIT` plans as TakeOrderedAndProject (a distributed
    * per-partition top-k) while cap stays under
    * `spark.sql.execution.topKSortFallbackThreshold`; the `require`
    * below pins cap within that bound. The seed is the k smallest
    * vec_ids WITHIN the sample — ids are NOT assumed contiguous or
    * 0-based, so an AnnIndex first batch whose ids begin at 1000+
    * trains the same quality quantizer. The DuckDB kmeans CTEs select
    * the identical rows by the identical scramble. */
  private[graft] def trainCentroids(s: SparkSession, view: String,
      knownN: Option[Long] = None): Array[Array[Double]] = {
    // `knownN` skips the sizing count when the caller already holds the
    // view's exact row count (r20): the refreeze paths validate
    // survivors == liveN immediately before training, and the first-
    // ingest path's stats aggregate carries the count — re-deriving it
    // here was one full pass over the training input per quantizer
    // train. The ladder math below is byte-identical either way.
    val n = knownN.getOrElse(
      s.sql(s"SELECT CAST(count(*) AS BIGINT) AS n FROM $view")
        .collect()(0).getLong(0))
    val k = TextSim.ivfCellsValue(n)
    val cap = k.toLong * TextSim.ivfTrainPerCell
    // The non-terminal `ORDER BY vec_id LIMIT cap` below only plans as a
    // distributed top-k while cap stays under the fallback threshold —
    // beyond it Spark degrades to a global sort, silently.
    require(cap <= s.conf.get("spark.sql.execution.topKSortFallbackThreshold").toLong,
      s"kmeans training cap $cap exceeds topKSortFallbackThreshold — the LIMIT would plan as a global sort")
    // The Lloyd rounds run DRIVER-SIDE over the one collected sample
    // (≤ cap rows — the same bounded-collect contract as
    // [[trainPqCodebooks]]): one Spark job total instead of one per
    // round. Every float op replays the oracle CTE chain's exact fold
    // orders — left-fold dist2, first-position argmin, per-dim member
    // sums in vec_id order (the sample arrives vec_id-sorted), empty
    // cells keep the previous centroid — so the trained centroids stay
    // bit-identical to [[duckKmeansCtes]] (t41/t48/t49/t56/t63
    // hash-match the oracle THROUGH this trainer). The vec_id sort is
    // applied DRIVER-SIDE over the collected sample (r20): the SQL's
    // outer `ORDER BY vec_id` was a global sort on ≤ cap rows whose
    // range exchange + AQE stages cost extra driver jobs per trainer
    // call; vec_id is unique, so the driver sort is the identical total
    // order and every fold sees byte-identical input.
    val rows = s.sql(
      s"""SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |  transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM (
         |  SELECT vec_id, embedding FROM $view
         |  ORDER BY ${TextSim.idShuffle("vec_id")}, vec_id LIMIT $cap)""".stripMargin)
      .collect().sortBy(_.getLong(0))
    val ids: Array[Long] = rows.map(_.getLong(0))
    val sample: Array[Array[Double]] = rows.map(_.getSeq[Double](1).toArray)
    // Seed = the k rows with the smallest idShuffle values, IN that
    // order — an id-ordered seed would re-introduce the source bias the
    // sampled selection just removed (all k seeds from the
    // lowest-id source → Lloyd never spreads to the others).
    val seedIdx = ids.indices.sortBy(i => (shuffleVal(ids(i)), ids(i))).take(k)
    var cents = seedIdx.map(i => sample(i).clone).toArray
    require(cents.length == math.min(k.toLong, n),
      s"degenerate quantizer seed: collected ${cents.length} of $k centroids from $view (n=$n)")
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val t0 = a(i) - b(i); acc = acc + t0 * t0; i += 1 }
      acc
    }
    if (cents.nonEmpty) {
      val dim = cents(0).length
      for (_ <- 1 to TextSim.ivfLloydIters) {
        val cells = sample.map { v =>
          val ds = cents.map(c => dist2(v, c))
          ds.indexOf(ds.min)
        }
        cents = Array.tabulate(cents.length) { ci =>
          val members = sample.indices.filter(cells(_) == ci)
          if (members.isEmpty) cents(ci)
          else Array.tabulate(dim)(i0 =>
            members.foldLeft(0.0)((acc, mi) => acc + sample(mi)(i0)) / members.size.toDouble)
        }
      }
    }
    cents
  }

  /** One Lloyd iteration in the oracle dialect: assign the training
    * sample to `prev`'s centroids (argmin of the distance array), then
    * per-cell sorted-fold means; empty cells keep the previous centroid.
    * `p` prefixes every CTE name so two training chains (e.g. t71's
    * frozen + refrozen quantizers) coexist in one WITH clause. */
  private def duckKmeansIter(it: Int, prev: String, p: String = ""): String = {
    val d = duck
    s"""${p}d$it AS (
       |  SELECT t.vec_id, t.emb,
       |    ${d.transform(d.ramp("len(c.cents)"), s"ci -> ${TextSim.dist2(d, "t.emb", "c.cents[ci]")}")} AS ds
       |  FROM ${p}train t CROSS JOIN $prev c),
       |${p}a$it AS (SELECT vec_id, emb, CAST(list_position(ds, list_min(ds)) AS BIGINT) AS cell FROM ${p}d$it),
       |${p}g$it AS (SELECT cell, list(emb ORDER BY vec_id) AS vecs FROM ${p}a$it GROUP BY cell),
       |${p}n$it AS (
       |  SELECT cell, list_transform(range(1, len(vecs[1]) + 1),
       |    i -> list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(vecs, v -> v[i])),
       |                     (acc, x0) -> acc + x0) / CAST(len(vecs) AS DOUBLE)) AS cemb
       |  FROM ${p}g$it),
       |${p}r$it AS (SELECT unnest(range(1, (SELECT cells FROM ${p}m) + 1)) AS ci),
       |${p}e$it AS (
       |  SELECT ${p}r$it.ci AS ci, coalesce(${p}n$it.cemb, (SELECT cents FROM $prev)[${p}r$it.ci]) AS cemb
       |  FROM ${p}r$it LEFT JOIN ${p}n$it ON ${p}n$it.cell = ${p}r$it.ci),
       |${p}c$it AS (SELECT list(cemb ORDER BY ci) AS cents FROM ${p}e$it)""".stripMargin
  }

  /** The oracle's full centroid-training CTE chain (replays
    * [[trainCentroidLiteral]]'s exact arithmetic as one pipeline);
    * trained centroids land in CTE `${p}c${TextSim.ivfLloydIters}`.
    * `p`/`where` parameterize the chain for queries that train MORE THAN
    * ONE quantizer (t71 trains on a filtered corpus and on the full
    * one); the defaults render the historical byte-identical SQL every
    * other oracle embeds. */
  private def duckKmeansCtes(p: String = "", where: String = ""): String = {
    val iters = (1 to TextSim.ivfLloydIters)
      .map(it => duckKmeansIter(it, if (it == 1) s"${p}c0" else s"${p}c${it - 1}", p))
      .mkString(",\n")
    val src = if (where.isEmpty) "embeddings" else s"embeddings $where"
    // Training sample and seed replay the Spark trainer's selection
    // exactly: cap rows by idShuffle order (the unbiased systematic
    // sample), seed = the `cells` smallest vec_ids WITHIN the sample.
    s"""${p}cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $src),
       |${p}m AS (SELECT ${TextSim.ivfCells("n")} AS cells FROM ${p}cnt),
       |${p}train0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb,
       |    row_number() OVER (ORDER BY ${TextSim.idShuffle("vec_id")}, vec_id) AS rn
       |  FROM $src),
       |${p}train AS (SELECT vec_id, emb FROM ${p}train0
       |          WHERE rn <= ${TextSim.ivfTrainPerCell} * (SELECT cells FROM ${p}m)),
       |${p}seed AS (SELECT vec_id, emb,
       |    row_number() OVER (ORDER BY ${TextSim.idShuffle("vec_id")}, vec_id) AS rs FROM ${p}train),
       |${p}c0 AS (SELECT list(emb ORDER BY rs) AS cents FROM ${p}seed
       |       WHERE rs <= (SELECT cells FROM ${p}m)),
       |$iters""".stripMargin
  }

  /** Per-dimension affine int8 quantizer stats for t48/t49: (min, span)
    * per dim — order-independent aggregates, one tiny collect (2·dim
    * doubles). */
  private[graft] def quantStats(s: SparkSession, view: String = "embeddings")
      : (Array[Double], Array[Double]) = {
    // Driver-side pos sort (r20): `ORDER BY pos` after the aggregate was
    // a global sort on dim rows — range-exchange jobs for a per-dim
    // array the driver sorts for free. pos is unique; same order.
    val stats = s.sql(
      s"""SELECT pos, min(CAST(col AS DOUBLE)) AS mn, max(CAST(col AS DOUBLE)) AS mx
         |FROM $view LATERAL VIEW posexplode(embedding) t AS pos, col
         |GROUP BY pos""".stripMargin).collect().sortBy(_.getInt(0))
    (stats.map(_.getDouble(1)), stats.map(r => r.getDouble(2) - r.getDouble(1)))
  }

  /** [[quantStats]] plus the view's exact row count, in the SAME
    * aggregate pass (r20): every embedding row contributes one value per
    * position, so any position's value count IS the row count — the
    * caller's separate `SELECT count(*)` sizing job becomes free. The
    * (mn, span) numbers are untouched (same scan, same group-by, same
    * min/max arithmetic). The explode is OUTER so a NULL or empty
    * embedding surfaces as a NULL-`pos` group instead of silently
    * dropping out of the count (an undercounted n picks a smaller cell
    * ladder step); such rows, and ragged dims, are refused. */
  private[graft] def quantStatsN(s: SparkSession, view: String)
      : (Array[Double], Array[Double], Long) = {
    val all = s.sql(
      s"""SELECT pos, min(CAST(col AS DOUBLE)) AS mn, max(CAST(col AS DOUBLE)) AS mx,
         |  CAST(count(*) AS BIGINT) AS c
         |FROM $view LATERAL VIEW OUTER posexplode(embedding) t AS pos, col
         |GROUP BY pos""".stripMargin).collect()
    val (nulls, stats0) = all.partition(_.isNullAt(0))
    require(nulls.isEmpty, s"$view holds ${nulls.map(_.getLong(3)).sum} rows " +
      "with a NULL or empty embedding — the quantizer cannot be trained on them")
    val stats = stats0.sortBy(_.getInt(0))
    val n = if (stats.isEmpty) 0L else stats(0).getLong(3)
    require(stats.forall(_.getLong(3) == n),
      s"$view holds embeddings of differing dimensions — every row needs ${stats.length}")
    (stats.map(_.getDouble(1)), stats.map(r => r.getDouble(2) - r.getDouble(1)), n)
  }

  /** The oracle's CTEs computing [[quantStats]]'s identical numbers
    * (`${p}arrs`: one row, `mns` + `spans` arrays). `p`/`where` as in
    * [[duckKmeansCtes]] — defaults render the historical SQL. */
  private def duckQuantCtes(p: String = "", where: String = ""): String = {
    val src = if (where.isEmpty) "embeddings" else s"embeddings $where"
    s"""${p}ex AS (
       |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
       |    unnest(list_transform(embedding, x -> x::DOUBLE)) AS val
       |  FROM $src),
       |${p}st AS (SELECT i, min(val) AS mn, max(val) AS mx FROM ${p}ex GROUP BY i),
       |${p}arrs AS (SELECT list(mn ORDER BY i) AS mns, list(mx - mn ORDER BY i) AS spans FROM ${p}st)""".stripMargin
  }

  /** Affine int8 encode: per-dim code in [0,255] (zero-span dims → 0).
    * Fixed-order double math, rendered identically on both engines;
    * `mns`/`spans` are array exprs (broadcast literals on Spark, CTE
    * columns in the oracle). */
  private[graft] def qCodes(d: Dialect, emb: String, mns: String, spans: String, dim: String): String =
    d.transform(d.ramp(dim),
      s"i -> CASE WHEN ${d.at(spans, "i")} = 0.0 THEN CAST(0 AS BIGINT) " +
        s"ELSE least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT), " +
        s"CAST(floor((CAST(${d.at(emb, "i")} AS DOUBLE) - ${d.at(mns, "i")}) " +
        s"/ ${d.at(spans, "i")} * 255.0 + 0.5) AS BIGINT))) END")

  /** Affine int8 decode (dequantize) — the scoring side reads ONLY this
    * reconstruction, never the original floats, until the exact re-rank. */
  private[graft] def qDequant(d: Dialect, codes: String, mns: String, spans: String, dim: String): String =
    d.transform(d.ramp(dim),
      s"i -> ${d.at(mns, "i")} + CAST(${d.at(codes, "i")} AS DOUBLE) / 255.0 * ${d.at(spans, "i")}")

  /** t41 — IVF ANN with TRAINED centroids and SCAN-SIDE assignment.
    *
    * Scale shape (the round-2 n×cells cross-join + full-corpus window is
    * gone): the coarse quantizer is k-means over a BOUNDED deterministic
    * sample (first `cells × ivfTrainPerCell` vectors, 2 Lloyd iterations,
    * seed = first `cells` vectors); the full corpus is then assigned to
    * cells by a zero-shuffle argmin fold over the centroid array inlined
    * as a broadcast literal — the only shuffles left are the bounded
    * training aggregations and the final bounded-query top-k window.
    * Cell ids are centroid ARRAY POSITIONS (1..cells); queries
    * multi-probe their 3 nearest cells via the same per-row distance
    * array (sorted (dist, idx) structs — no window, no join).
    *
    * Determinism: Spark trains stepwise in the driver (each step collects
    * only `cells` centroid rows — a legitimate scalar collect, like the
    * two-pass id offsets) with sorted-fold means (left-to-right double
    * sums over vec_id-sorted vectors); the DuckDB oracle replays the
    * IDENTICAL chain as one CTE pipeline. Doubles round-trip exactly
    * through the literal re-emission (Double.toString ↔ parse). */
  private val t41 = {
    // Shared final stage: full-corpus scan-side assignment + bounded-query
    // multi-probe + top-3 by cosine. `centsRef` is the centroid array
    // expression: a broadcast literal on Spark, a 1-row CROSS JOIN column
    // in the oracle (DuckDB's plan cost is not under test).
    def finalStage(d: Dialect, fromV: String, centsCol: String): String =
      s"""fd AS (
         |  SELECT vec_id, embedding, ${TextSim.norm2(d, "embedding")} AS n2,
         |    ${d.transform(d.ramp(s"${d.size}(centsCol_)"), s"ci -> ${TextSim.dist2(d, "embedding", d.at("centsCol_", "ci"))}")} AS ds
         |  FROM (SELECT vec_id, embedding, $centsCol AS centsCol_ $fromV)),
         |assigned AS (
         |  SELECT vec_id, embedding, n2,
         |    CAST(${if (d eq sprk) "array_position" else "list_position"}(ds, ${d.arrayMin}(ds)) AS BIGINT) AS cell
         |  FROM fd),
         |q AS (SELECT vec_id, embedding, n2, ${top3Cells(d, "ds")} AS probes
         |      FROM fd WHERE vec_id % 100 = 0 AND vec_id < 2500),
         |qp AS (SELECT vec_id, embedding, n2, ${d.explode}(probes) AS cell FROM q),
         |scored AS (
         |  SELECT qp.vec_id AS query_id, c.vec_id AS neighbor_id, c.cell AS cell,
         |    ${TextSim.dot(d, "qp.embedding", "c.embedding")} / (sqrt(qp.n2) * sqrt(c.n2)) AS cosine
         |  FROM qp JOIN assigned c ON c.cell = qp.cell AND c.vec_id <> qp.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cell, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, cell, cosine, rnk FROM ranked
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

    GQuery(
      fn = (s, dir) => {
        graft.functions.GraftFunctions.registerAll(s)
        Tables.embeddings(s, dir).createOrReplaceTempView("embeddings")
        s.sql(s"WITH ${finalStage(sprk, "FROM embeddings", trainCentroidLiteral(s))}")
      },
      oracle = Some {
        s"""WITH ${duckKmeansCtes()},
           |${finalStage(duck, s"FROM embeddings CROSS JOIN c${TextSim.ivfLloydIters} cj", "cj.cents")}""".stripMargin
      })
  }

  /** t42 — composed corpus curation: the end-to-end shape of a training
    * -data filter pass as ONE declarative plan — quality scoring (t31's
    * formula) + language gate (t32's marker heuristic, en only) + length
    * gate + exact dedup (t34's min-id keeper), emitting the curated
    * manifest. One scan computes every per-doc signal; the only shuffle
    * is the dedup groupBy on text — at 100 TB the same plan holds with
    * the text pre-hashed to 8 bytes. */
  private val t42 = dual() { d =>
    val toks = TextSim.tokens(d, "text")
    val filterFn = if (d eq sprk) "filter" else "list_filter"
    def markers(ws: Seq[String]) =
      s"CAST(${d.size}($filterFn($toks, w -> ${ws.map(w => s"w = '$w'").mkString(" OR ")})) AS BIGINT)"
    s"""WITH scored AS (
       |  SELECT doc_id, text,
       |    CAST(${d.size}($toks) AS BIGINT) AS n_tokens,
       |    CAST(${d.size}(${d.arrayDistinct}($toks)) AS BIGINT) AS n_distinct,
       |    ${markers(Seq("the", "a", "row"))} AS s_en,
       |    ${markers(Seq("table", "join"))} AS s_de,
       |    ${markers(Seq("the", "a"))} AS n_stop
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, text, n_tokens,
       |    CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.5
       |      + (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.3
       |      + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
       |  FROM scored
       |  WHERE n_tokens >= 5 AND s_en >= s_de),
       |kept AS (
       |  SELECT min(doc_id) AS doc_id, min(n_tokens) AS n_tokens, min(quality) AS quality
       |  FROM q WHERE quality >= 0.45 GROUP BY text)
       |SELECT doc_id, n_tokens, quality FROM kept ORDER BY doc_id""".stripMargin
  }

  /** t43 — deterministic train/val/test split: every document lands in a
    * split by a pure hash of its id (`graft_poly_hash` — stable across
    * runs, machines, and partitionings; no RNG, no shuffle of the data),
    * with per-split corpus stats. The split column is computable at scan
    * time for any later read — the property that matters when sharding
    * 100 TB into training mixes. */
  private val t43 = dual() { d =>
    val h = TextSim.wordHash(d, "CAST(doc_id AS STRING)")
    s"""WITH assigned AS (
       |  SELECT doc_id,
       |    CASE WHEN $h % 100 < 80 THEN 'train'
       |         WHEN $h % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split,
       |    CAST(${d.size}(${TextSim.tokens(d, "text")}) AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM assigned GROUP BY split ORDER BY split""".stripMargin
  }

  /** t44 — near-dup CLUSTER RESOLUTION: connected components over the
    * verified MinHash pair graph (the missing step between pair
    * detection and an actual deduplicated corpus — near-duplication is
    * transitive in effect but not in the pairwise predicate, so keeper
    * selection must happen per component, not per pair).
    *
    * Spark plan: iterative min-label propagation as DataFrame joins —
    * every node starts as its own label; each round takes the min label
    * over neighbors; the driver loops until a fixpoint (the collect is
    * ONE scalar count per round). Rounds = graph diameter, which for
    * near-dup clusters is tiny and grows logarithmically under the
    * min-label dynamics — the standard large-graph CC shape (each round
    * is one bounded equi-join + partial-aggregated groupBy; no
    * all-pairs anything). The DuckDB oracle computes the same components
    * by recursive transitive closure — fine at oracle scale, exactly
    * what does NOT scale to 100 TB (closure materializes whole
    * components squared; label propagation never does).
    *
    * Output per component: cluster_id = min member (the keeper under
    * the engine's min-id policy, t34/t42), member count, max member. */
  private val t44 = GQuery(
    fn = (s, dir) => {
      import org.apache.spark.sql.functions._
      // Persist the verified pair set: connectedComponents' first
      // action would otherwise re-run the band join + Jaccard verify
      // when materializing its edge cache.
      val pairs = graft.CacheJanitor.register(
        minhashPairs(s, dir, "t44").select("doc_a", "doc_b").persist())
      graft.operators.Relational.connectedComponents(pairs)
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_member"))
        .orderBy("cluster_id")
    },
    oracle = Some(
      s"""WITH RECURSIVE $minhashPairsDuckCtes,
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (
         |  SELECT src AS doc_id, least(src, min(dst)) AS label FROM reach GROUP BY src)
         |SELECT label AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |  max(doc_id) AS max_member
         |FROM labels GROUP BY label ORDER BY cluster_id""".stripMargin))

  /** t45 — benchmark DECONTAMINATION: flag corpus documents that share
    * any 3-word shingle with the eval set (here: `doc_id % 50 = 0`
    * stands in for the benchmark corpus — in production a separate
    * table). The eval side is SMALL by definition, so its exploded
    * shingle index broadcasts and contamination detection is one
    * broadcast equi-join on 8-byte shingle hashes over scan-side
    * signatures — no corpus×corpus work, linear in the corpus at any
    * scale. Output: per contaminated doc, how many distinct shingles
    * hit and how many benchmark docs they touch (the triage signal for
    * drop-vs-redact decisions). */
  private val t45 = GQuery(
    fn = (s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents")
      val d = sprk
      // Signatures computed ONCE and persisted (both the bench index and
      // the corpus side read the cache); clean corpus docs are eliminated
      // scan-side by intersecting against the broadcast bench shingle-set
      // BEFORE any explode — at realistic contamination rates (~1%) the
      // per-shingle join input shrinks ~100×, and set-membership makes
      // the unordered collect_set deterministic.
      val sh = graft.CacheJanitor.register(s.sql(shSql(d)).persist())
      sh.createOrReplaceTempView("t45_sh")
      s.sql("SELECT doc_id, explode(shs) AS h FROM t45_sh WHERE doc_id % 50 = 0")
        .createOrReplaceTempView("t45_bench")
      s.sql(
        s"""WITH cand AS (
           |  SELECT doc_id, shs FROM t45_sh
           |  WHERE doc_id % 50 <> 0
           |    AND size(array_intersect(shs, (SELECT collect_set(h) FROM t45_bench))) >= 1),
           |corpus AS (SELECT doc_id, explode(shs) AS h FROM cand),
           |hits AS (
           |  SELECT c.doc_id AS doc_id, c.h AS h, b.doc_id AS bench_id
           |  FROM corpus c JOIN t45_bench b ON c.h = b.h)
           |SELECT doc_id, CAST(count(DISTINCT h) AS BIGINT) AS n_shingles_hit,
           |  CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_docs
           |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    },
    oracle = Some {
      val d = duck
      s"""WITH sh AS (${shSql(d)}),
         |bench AS (SELECT doc_id, ${d.explode}(shs) AS h FROM sh WHERE doc_id % 50 = 0),
         |corpus AS (SELECT doc_id, ${d.explode}(shs) AS h FROM sh WHERE doc_id % 50 <> 0),
         |hits AS (
         |  SELECT c.doc_id AS doc_id, c.h AS h, b.doc_id AS bench_id
         |  FROM corpus c JOIN bench b ON c.h = b.h)
         |SELECT doc_id, CAST(count(DISTINCT h) AS BIGINT) AS n_shingles_hit,
         |  CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_docs
         |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })

  /** t46 — internal REPETITION detection (the Gopher-style quality gate:
    * templated/boilerplate docs repeat their own n-grams): per doc, the
    * duplicate-shingle ratio and the max multiplicity of any single
    * shingle. The DEFINITION is multiplicity counting; the Spark plan
    * computes it as a single sorted-run fold over the shingle array
    * (O(n log n) per doc, scan-side, no shuffle at all) while the
    * oracle uses the direct quadratic count — same integers, different
    * cost, t37-style. `is_repetitive` pins the drop decision at the
    * standard 0.2 dup-ratio threshold. */
  private val t46 = dual() { d =>
    val maxRep =
      if (d eq sprk)
        """aggregate(array_sort(shs),
          |      named_struct('prev', CAST(-1 AS BIGINT), 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
          |      (acc, x) -> named_struct(
          |        'prev', x,
          |        'run', IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)),
          |        'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)))),
          |      acc -> acc.best)""".stripMargin
      else
        "list_max(list_transform(list_distinct(shs), dd -> CAST(len(list_filter(shs, x -> x = dd)) AS BIGINT)))"
    s"""WITH w AS (SELECT doc_id, ${TextSim.wordHashes(d, "text")} AS wh FROM documents),
       |s AS (SELECT doc_id, ${TextSim.shingleHashes(d, "wh")} AS shs
       |      FROM w WHERE ${d.size}(wh) >= 3),
       |r AS (
       |  SELECT doc_id,
       |    CAST(${d.size}(shs) AS BIGINT) AS n_shingles,
       |    CAST(${d.size}(${d.arrayDistinct}(shs)) AS BIGINT) AS n_distinct,
       |    $maxRep AS max_repeat
       |  FROM s)
       |SELECT doc_id, n_shingles, n_distinct, max_repeat,
       |  1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS dup_ratio,
       |  CAST(CASE WHEN 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_shingles AS DOUBLE) > 0.2
       |       THEN 1 ELSE 0 END AS BIGINT) AS is_repetitive
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** t47 — corpus MIX report (the data-mixture view a training run is
    * planned against): per (source, lang), doc/token counts and quality
    * ratios computed from INTEGER sums only — sums of bigints are exact
    * and order-independent, so the report is deterministic at any
    * partitioning, where a sum of per-doc doubles would not be. One
    * scan, one partial/final aggregation. */
  private val t47 = dual() { d =>
    val toks = TextSim.tokens(d, "text")
    val filterFn = if (d eq sprk) "filter" else "list_filter"
    s"""WITH t AS (
       |  SELECT source, lang, n_chars,
       |    CAST(${d.size}($toks) AS BIGINT) AS n_tokens,
       |    CAST(${d.size}(${d.arrayDistinct}($toks)) AS BIGINT) AS n_distinct,
       |    CAST(${d.size}($filterFn($toks, w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
       |  FROM documents)
       |SELECT source, lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  CAST(sum(n_distinct) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE) AS distinct_ratio,
       |  CAST(sum(n_stop) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE) AS stop_ratio,
       |  CAST(min(n_chars) AS BIGINT) AS min_chars,
       |  CAST(max(n_chars) AS BIGINT) AS max_chars
       |FROM t GROUP BY source, lang ORDER BY source, lang""".stripMargin
  }

  /** t48 — int8 SCALAR-QUANTIZED ANN with exact re-rank: per-dimension
    * affine quantization of the corpus to 8-bit codes (4× less memory
    * traffic — the lever that decides whether a corpus-scale index fits
    * executor RAM), asymmetric scoring (float query × dequantized
    * corpus), top-10 approximate candidates per bounded query, exact
    * float re-rank to top-3. Scoring uses ONLY the 8-bit information:
    * codes are materialized and dequantized, never the original floats,
    * until the re-rank.
    *
    * Spark side follows t41's broadcast-literal pattern: per-dim min/max
    * (order-independent aggregates, one tiny collect) are inlined so
    * quantization and dequantized scoring are pure scan-side
    * expressions; the oracle computes identical stats as CTEs. All
    * arithmetic is fixed-order double math — bit-identical both
    * engines. */
  private val t48 = {
    def rankTail(d: Dialect): String =
      s"""cand AS (
         |  SELECT query_id, neighbor_id, approx_cosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx_cosine DESC, neighbor_id) AS rka
         |  FROM scored),
         |rer AS (
         |  SELECT c.query_id AS query_id, c.neighbor_id AS neighbor_id,
         |    c.approx_cosine AS approx_cosine,
         |    ${TextSim.dot(d, "q.embedding", "n.embedding")} / (sqrt(q.n2) * sqrt(n.n2)) AS cosine
         |  FROM cand c
         |  JOIN w q ON q.vec_id = c.query_id
         |  JOIN w n ON n.vec_id = c.neighbor_id
         |  WHERE c.rka <= 10),
         |ranked AS (
         |  SELECT query_id, neighbor_id, approx_cosine, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM rer)
         |SELECT query_id, neighbor_id, approx_cosine, cosine, rnk FROM ranked
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

    GQuery(
      fn = (s, dir) => {
        graft.functions.GraftFunctions.registerAll(s)
        Tables.embeddings(s, dir).createOrReplaceTempView("embeddings")
        val d = sprk
        val (mn, span) = quantStats(s)
        def arr(a: Array[Double]) = a.map(litD).mkString("array(", ", ", ")")
        val mnL = arr(mn); val spL = arr(span); val dim = mn.length.toString
        // Spark scores through the codegen'd SQ8 kernels (one tight loop
        // per pair, no dq array materialized); the oracle keeps the HOF
        // rendering — the hash compare is the end-to-end bit-equality
        // proof (the kernels replicate the fold order exactly).
        s.sql(
          s"""WITH v AS (
             |  SELECT vec_id, embedding, ${TextSim.norm2(d, "embedding")} AS n2,
             |    ${qCodes(d, "embedding", mnL, spL, dim)} AS codes
             |  FROM embeddings),
             |w AS (SELECT vec_id, embedding, n2 FROM v),
             |w2 AS (SELECT vec_id, codes,
             |         graft_sq8_norm2(codes, $mnL, $spL) AS dqn2 FROM v),
             |qs AS (SELECT vec_id, embedding, n2 FROM v WHERE vec_id % 100 = 0 AND vec_id < 2500),
             |scored AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    graft_sq8_dot(q.embedding, c.codes, $mnL, $spL) / (sqrt(q.n2) * sqrt(c.dqn2)) AS approx_cosine
             |  FROM qs q JOIN w2 c ON c.vec_id <> q.vec_id),
             |${rankTail(d)}""".stripMargin)
      },
      oracle = Some {
        val d = duck
        s"""WITH ${duckQuantCtes()},
           |v AS (
           |  SELECT e.vec_id, e.embedding, ${TextSim.norm2(d, "e.embedding")} AS n2,
           |    ${qCodes(d, "e.embedding", "a.mns", "a.spans", "len(e.embedding)")} AS codes,
           |    a.mns AS mns, a.spans AS spans
           |  FROM embeddings e CROSS JOIN arrs a),
           |w AS (
           |  SELECT vec_id, embedding, n2,
           |    ${qDequant(d, "codes", "mns", "spans", "len(codes)")} AS dq
           |  FROM v),
           |w2 AS (SELECT vec_id, n2, dq, ${TextSim.dotHof(d, "dq", "dq")} AS dqn2 FROM w),
           |qs AS (SELECT vec_id, embedding, n2 FROM w WHERE vec_id % 100 = 0 AND vec_id < 2500),
           |scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    ${TextSim.dotHof(d, "q.embedding", "c.dq")} / (sqrt(q.n2) * sqrt(c.dqn2)) AS approx_cosine
           |  FROM qs q JOIN w2 c ON c.vec_id <> q.vec_id),
           |${rankTail(d)}""".stripMargin
      })
  }

  /** t50 — decontamination REMOVAL (the act step on t45's report): drop
    * every corpus document sharing a 3-word shingle with the eval set
    * and emit the per-source before/after accounting a pipeline records
    * with the cleaned snapshot. Contamination detection is t45's path
    * verbatim — scan-side intersect against the broadcast eval
    * shingle-set, so the drop set is identified in one linear pass —
    * and removal is a left anti join of the corpus against that (small,
    * ~1% at realistic rates) drop list: broadcastable at any corpus
    * size, never a shuffle of the corpus itself. The `cleaned` frame is
    * the operator's real product (at 100 TB it is written as the new
    * snapshot); the registered result aggregates it to integer
    * per-source counts — exact, order-independent, deterministic at any
    * partitioning. Docs too short to shingle (<3 words) carry no
    * contamination evidence and are kept, matching t45's definition. */
  private val t50 = GQuery(
    fn = (s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents")
      val d = sprk
      val sh = graft.CacheJanitor.register(s.sql(shSql(d)).persist())
      sh.createOrReplaceTempView("t50_sh")
      s.sql("SELECT doc_id, explode(shs) AS h FROM t50_sh WHERE doc_id % 50 = 0")
        .createOrReplaceTempView("t50_bench")
      s.sql(
        s"""WITH contam AS (
           |  SELECT doc_id FROM t50_sh
           |  WHERE doc_id % 50 <> 0
           |    AND size(array_intersect(shs, (SELECT collect_set(h) FROM t50_bench))) >= 1),
           |corpus AS (SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 50 <> 0),
           |cleaned AS (
           |  SELECT c.doc_id, c.source, c.n_chars,
           |    CASE WHEN k.doc_id IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS dropped
           |  FROM corpus c LEFT JOIN contam k ON c.doc_id = k.doc_id)
           |SELECT source,
           |  CAST(count(*) AS BIGINT) AS n_docs_before,
           |  CAST(sum(dropped) AS BIGINT) AS n_docs_dropped,
           |  CAST(count(*) - sum(dropped) AS BIGINT) AS n_docs_after,
           |  CAST(sum(n_chars) AS BIGINT) AS n_chars_before,
           |  CAST(sum(n_chars * (1 - dropped)) AS BIGINT) AS n_chars_after
           |FROM cleaned GROUP BY source ORDER BY source""".stripMargin)
    },
    oracle = Some {
      val d = duck
      s"""WITH sh AS (${shSql(d)}),
         |bench AS (SELECT doc_id, ${d.explode}(shs) AS h FROM sh WHERE doc_id % 50 = 0),
         |ce AS (SELECT doc_id, ${d.explode}(shs) AS h FROM sh WHERE doc_id % 50 <> 0),
         |contam AS (SELECT DISTINCT c.doc_id AS doc_id FROM ce c JOIN bench b ON c.h = b.h),
         |corpus AS (SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 50 <> 0),
         |cleaned AS (
         |  SELECT c.doc_id, c.source, c.n_chars,
         |    CASE WHEN k.doc_id IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS dropped
         |  FROM corpus c LEFT JOIN contam k ON c.doc_id = k.doc_id)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs_before,
         |  CAST(sum(dropped) AS BIGINT) AS n_docs_dropped,
         |  CAST(count(*) - sum(dropped) AS BIGINT) AS n_docs_after,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars_before,
         |  CAST(sum(n_chars * (1 - dropped)) AS BIGINT) AS n_chars_after
         |FROM cleaned GROUP BY source ORDER BY source""".stripMargin
    })

  /** t51 — CROSS-MODAL retrieval: text query → media neighbors. The
    * media side goes through the REAL multimodal batch operator
    * ([[graft.multimodal.Multimodal.decodeAll]]: per-partition decoder
    * lifecycle, fixed-size batches, no shuffle) whose stub decoder
    * emits deterministic 8-dim embeddings; the text side embeds
    * in-plan with the codegen'd `graft_poly_hash` kernel. Retrieval is
    * t39's scale-parameterized LSH bucketing verbatim — bucket ladder
    * over the media count, Hamming-1 multi-probe from the query side,
    * probe→bucket equi-join, exact cosine re-rank to top-3 — so the
    * multimodal column rides the same sub-quadratic ANN path as text
    * embeddings rather than being a parallel track.
    *
    * The oracle twin is expressible because the stub decoder is a
    * deterministic byte-fold: for the (ASCII) corpus its UTF-8 byte
    * hash equals the code-point PolyHash, so DuckDB replays embedding
    * construction symbolically. A real CLIP-style encoder swaps in at
    * [[graft.multimodal.Multimodal.MediaDecoder.decode]] without
    * touching this plan. */
  private val t51 = {
    def stubEmb(d: Dialect, hExpr: String): String = {
      val ramp0 = if (d eq sprk) "sequence(0, 7)" else "range(0, 8)"
      d.transform(ramp0, s"dd -> CAST((($hExpr + dd * 131) % 1000) / 1000.0 AS FLOAT)")
    }
    def tail(d: Dialect): String = {
      val probes = d.arrayOf("bucket" +: (0 until TextSim.lshPlanes)
        .map(k => d.xor("bucket", (1L << k).toString)))
      s"""p AS (SELECT doc_id, probe
         |      FROM (SELECT doc_id, ${d.explode}($probes) AS probe FROM qv) pr
         |      WHERE probe < (SELECT mask FROM m)),
         |cand AS (
         |  SELECT DISTINCT p.doc_id AS query_id, mv.doc_id AS media_id
         |  FROM p JOIN mv ON p.probe = mv.bucket AND p.doc_id <> mv.doc_id),
         |scored AS (
         |  SELECT c.query_id AS query_id, c.media_id AS media_id, b.bucket AS bucket,
         |    ${TextSim.dot(d, "a.embedding", "b.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
         |  FROM cand c JOIN qv a ON c.query_id = a.doc_id JOIN mv b ON c.media_id = b.doc_id),
         |ranked AS (
         |  SELECT query_id, media_id, bucket, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, media_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT query_id, media_id, bucket, cosine, rnk FROM ranked
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
    }
    GQuery(
      fn = (s, dir) => {
        graft.functions.GraftFunctions.registerAll(s)
        val docs = Tables.documents(s, dir)
        docs.createOrReplaceTempView("documents")
        // The decode is the heavy per-row step — materialize it ONCE.
        // As a bare view, the inlined plan re-ran the mapPartitions
        // decode per reference (the count + two `mv` reads = 3 full
        // decode passes per query; r19 plan sweep: 18 scans in t51's
        // plan). The mask ladder value is computed from the cached
        // frame's count driver-side (lshMaskValue ≡ lshMask — the t69
        // freeze contract), identical to the CTE's scalar subquery.
        val media = graft.CacheJanitor.register(
          graft.multimodal.Multimodal.decodeAll(
            graft.multimodal.Multimodal.documentsAsMedia(docs),
            new graft.multimodal.Multimodal.StubDecoder(8)).toDF().persist())
        media.createOrReplaceTempView("t51_media")
        val mask = TextSim.lshMaskValue(media.count()).toLong
        val d = sprk
        s.sql(
          s"""WITH m AS (SELECT $mask AS mask),
             |mv AS (
             |  SELECT doc_id, embedding, ${TextSim.norm2(d, "embedding")} AS n2,
             |    ${TextSim.lshCode(d, "embedding")} % $mask AS bucket
             |  FROM t51_media),
             |qv AS (
             |  SELECT doc_id, embedding, ${TextSim.norm2(d, "embedding")} AS n2,
             |    ${TextSim.lshCode(d, "embedding")} % $mask AS bucket
             |  FROM (SELECT doc_id, ${stubEmb(d, TextSim.wordHash(d, "text"))} AS embedding
             |        FROM documents WHERE doc_id % 50 = 0)),
             |${tail(d)}""".stripMargin)
      },
      oracle = Some {
        val d = duck
        s"""WITH cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |m AS (SELECT ${TextSim.lshMask("n")} AS mask FROM cnt),
           |me AS (SELECT doc_id, ${stubEmb(d, TextSim.wordHash(d, "text"))} AS embedding
           |       FROM documents),
           |mv AS (
           |  SELECT doc_id, embedding, ${TextSim.norm2(d, "embedding")} AS n2,
           |    ${TextSim.lshCode(d, "embedding")} % (SELECT mask FROM m) AS bucket
           |  FROM me),
           |qv AS (SELECT * FROM mv WHERE doc_id % 50 = 0),
           |${tail(d)}""".stripMargin
      })
  }

  /** t49 — IVF-SQ8: t41's trained coarse quantizer COMPOSED with t48's
    * int8 scalar quantization — the production ANN index shape (what
    * FAISS calls `IVF<nlist>,SQ8`). The corpus is assigned to cells
    * scan-side (argmin over the broadcast centroid literal) and stored
    * as int8 codes; each query probes its 3 nearest cells and scores
    * DEQUANTIZED CODES ONLY INSIDE THE PROBED CELLS — an equi-join on
    * `cell` — then exact-re-ranks its top-10 approximate candidates to
    * a final top-3.
    *
    * This removes t48's whole-corpus scoring scan and with it the
    * bounded-query crutch: per-query scoring work is ~(3/cells)·n rows
    * at 4× less memory traffic (8 bits/dim), so query count scales with
    * cluster capacity rather than being capped by the flat-scan cost.
    * The probe join is an equi-join on `cell` (plan-asserted: no
    * corpus-wide nested loop); the exact re-rank touches ≤10 float rows
    * per query. At 100 TB the `enc2` frame IS the persisted index
    * (cell-partitioned parquet of codes); here it is built in-plan so
    * the oracle can replay the identical arithmetic end-to-end. */
  private val t49 = {
    def stage(d: Dialect, fromV: String, cents: String, mns: String, spans: String): String = {
      val pos = if (d eq sprk) "array_position" else "list_position"
      // Spark scores straight from the int8 codes through the codegen'd
      // SQ8 kernels (`mns`/`spans` are broadcast literals there, so they
      // inline into the kernel call); the oracle materializes dq and
      // folds — same arithmetic in the same order, hash-equal results.
      val sq8 = d eq sprk
      val encPayload =
        if (sq8) "codes"
        else s"${qDequant(d, "codes", "mns_", "spans_", s"${d.size}(codes)")} AS dq"
      val dqn2 =
        if (sq8) s"graft_sq8_norm2(codes, $mns, $spans)"
        else TextSim.dotHof(d, "dq", "dq")
      val pairDot =
        if (sq8) s"graft_sq8_dot(qp.embedding, c.codes, $mns, $spans)"
        else TextSim.dotHof(d, "qp.embedding", "c.dq")
      s"""raw AS (SELECT vec_id, embedding, $cents AS cents_, $mns AS mns_, $spans AS spans_ $fromV),
         |base AS (
         |  SELECT vec_id, embedding, mns_, spans_, ${TextSim.norm2(d, "embedding")} AS n2,
         |    ${d.transform(d.ramp(s"${d.size}(cents_)"), s"ci -> ${TextSim.dist2(d, "embedding", d.at("cents_", "ci"))}")} AS ds
         |  FROM raw),
         |enc AS (
         |  SELECT vec_id, cell, $encPayload
         |  FROM (
         |    SELECT vec_id, mns_, spans_,
         |      CAST($pos(ds, ${d.arrayMin}(ds)) AS BIGINT) AS cell,
         |      ${qCodes(d, "embedding", "mns_", "spans_", s"${d.size}(mns_)")} AS codes
         |    FROM base) e0),
         |enc2 AS (SELECT vec_id, cell, ${if (sq8) "codes" else "dq"}, $dqn2 AS dqn2 FROM enc),
         |q AS (SELECT vec_id, embedding, n2, ${top3Cells(d, "ds")} AS probes
         |      FROM base WHERE vec_id % 100 = 0 AND vec_id < 2500),
         |qp AS (SELECT vec_id, embedding, n2, ${d.explode}(probes) AS cell FROM q),
         |scored AS (
         |  SELECT qp.vec_id AS query_id, c.vec_id AS neighbor_id, c.cell AS cell,
         |    $pairDot / (sqrt(qp.n2) * sqrt(c.dqn2)) AS approx_cosine
         |  FROM qp JOIN enc2 c ON c.cell = qp.cell AND c.vec_id <> qp.vec_id),
         |cand AS (
         |  SELECT query_id, neighbor_id, cell, approx_cosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx_cosine DESC, neighbor_id) AS rka
         |  FROM scored),
         |rer AS (
         |  SELECT c.query_id AS query_id, c.neighbor_id AS neighbor_id, c.cell AS cell,
         |    c.approx_cosine AS approx_cosine,
         |    ${TextSim.dot(d, "qe.embedding", "ne.embedding")} / (sqrt(qe.n2) * sqrt(ne.n2)) AS cosine
         |  FROM cand c
         |  JOIN base qe ON qe.vec_id = c.query_id
         |  JOIN base ne ON ne.vec_id = c.neighbor_id
         |  WHERE c.rka <= 10),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cell, approx_cosine, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM rer)
         |SELECT query_id, neighbor_id, cell, approx_cosine, cosine, rnk FROM ranked
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
    }
    GQuery(
      fn = (s, dir) => {
        graft.functions.GraftFunctions.registerAll(s)
        Tables.embeddings(s, dir).createOrReplaceTempView("embeddings")
        val (mnA, spA) = quantStats(s)
        def arr(a: Array[Double]) = a.map(litD).mkString("array(", ", ", ")")
        s.sql(s"WITH ${stage(sprk, "FROM embeddings", trainCentroidLiteral(s), arr(mnA), arr(spA))}")
      },
      oracle = Some {
        s"""WITH ${duckKmeansCtes()},
           |${duckQuantCtes()},
           |${stage(duck,
              s"FROM embeddings CROSS JOIN c${TextSim.ivfLloydIters} cj CROSS JOIN arrs a",
              "cj.cents", "a.mns", "a.spans")}""".stripMargin
      })
  }

  /** t52 — deterministic STRATIFIED SAMPLING for mix rebalancing (the
    * act step on t47's mix report: a training run wants languages at
    * target proportions, not at crawl proportions). Inclusion is a pure
    * hash decision — `polyhash(doc_id || salt) mod 1000 < per-lang
    * permille` — so the sample is reproducible at any partitioning,
    * needs no RNG state, and is a zero-shuffle scan-side filter at any
    * corpus size (same contract as t43's split assignment). The report
    * aggregates per-stratum before/after counts (integer sums only);
    * the kept manifest is the same frame before aggregation. */
  private val t52 = dual() { d =>
    val idStr = if (d eq sprk) "CAST(doc_id AS STRING)" else "CAST(doc_id AS VARCHAR)"
    val h = TextSim.wordHash(d, s"concat($idStr, ':mix')")
    s"""WITH r AS (
       |  SELECT doc_id, lang, $h % 1000 AS bucket,
       |    CASE lang WHEN 'en' THEN 1000 WHEN 'de' THEN 500 WHEN 'fr' THEN 500
       |              WHEN 'es' THEN 500 ELSE 250 END AS target_permille
       |  FROM documents)
       |SELECT lang, CAST(target_permille AS BIGINT) AS target_permille,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN bucket < target_permille THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM r GROUP BY lang, target_permille ORDER BY lang""".stripMargin
  }

  /** t53 — SEQUENCE PACKING (the training-loader shape: concatenate
    * docs into fixed token-budget packs): per source, docs are packed
    * in doc_id order by prefix-sum — `pack_id = prior_tokens div 256`
    * — one window per source partition, no global sort, then a per-pack
    * manifest. At 100 TB the partition key becomes (source, shard) with
    * shard a hash bucket, so each prefix sum stays bounded while packs
    * remain deterministic; the window is the standard distributed
    * prefix-sum shape (cf. the two-pass surrogate id). */
  private val t53 = dual() { d =>
    val toks = TextSim.tokens(d, "text")
    s"""WITH t AS (
       |  SELECT doc_id, source, CAST(${d.size}($toks) AS BIGINT) AS n_tokens FROM documents),
       |p AS (
       |  SELECT doc_id, source, n_tokens,
       |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_tokens
       |  FROM t),
       |a AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(${d.intDiv("prior_tokens", "256")} AS BIGINT) AS pack_id
       |  FROM p)
       |SELECT source, pack_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       |  CAST(min(doc_id) AS BIGINT) AS first_doc,
       |  CAST(max(doc_id) AS BIGINT) AS last_doc
       |FROM a GROUP BY source, pack_id ORDER BY source, pack_id""".stripMargin
  }

  /** t54 — embedding-cosine NEAR-DUP DEDUP: the dedup family member that
    * works on the vector column instead of the text — pairs from t39's
    * hyperplane-LSH chain (probe→bucket equi-join, exact cosine ≥ 0.4
    * verify), resolved to components ([[graft.operators.Relational
    * .connectedComponents]], t44's min-label machinery), then a keeper
    * manifest over the FULL corpus: every vector maps to its component's
    * min id (itself when unduplicated). This is the act step on t39 the
    * way t44 is on t36 and t50 is on t45 — report → resolution → usable
    * mapping.
    *
    * Scale: candidate generation is t39's (corpus-scaled buckets, never
    * all-pairs), resolution is t44's (O(log diameter) rounds of bounded
    * equi-joins), and the final mapping is ONE left equi-join of the
    * corpus against the duplicated-node label set. The label set has one
    * row per node of the dup-pair graph — corpus-dependent, NOT bounded
    * by construction (a permissive threshold can label a large fraction
    * of the corpus) — so the join carries no broadcast hint: AQE
    * broadcasts it when its measured size is actually small and falls
    * back to a shuffled hash join when it isn't. The DuckDB oracle
    * resolves the same pair graph by recursive transitive closure (fine
    * at oracle scale, the documented anti-pattern at 100 TB). */
  private val t54 = GQuery(
    fn = (s, dir) => {
      import org.apache.spark.sql.functions._
      graft.functions.GraftFunctions.registerAll(s)
      Tables.embeddings(s, dir).createOrReplaceTempView("embeddings")
      // Persist the LSH pair set: connectedComponents' first action
      // would otherwise re-run the whole candidate/verify pipeline when
      // materializing its edge cache. The encoded corpus `v` is itself
      // materialized once (lshEncodedFrame) — the inlined CTE form
      // re-encoded the corpus per reference.
      val (v, mask) = lshEncodedFrame(s)
      v.createOrReplaceTempView("t54_v")
      val pairs = graft.CacheJanitor.register(s.sql(
        s"""WITH ${lshTailCtes(sprk, "t54_v", mask.toString)}
           |SELECT vec_a, vec_b FROM pairs""".stripMargin).persist())
      val labels = graft.operators.Relational.connectedComponents(pairs)
      s.table("embeddings").select(col("vec_id"))
        .join(labels, col("vec_id") === col("node"), "left")
        .select(
          col("vec_id"),
          coalesce(col("label"), col("vec_id")).as("keeper_id"),
          when(col("label").isNotNull && col("label") =!= col("vec_id"), 1L)
            .otherwise(0L).as("is_dup"))
        .orderBy("vec_id")
    },
    oracle = Some {
      s"""WITH RECURSIVE ${lshPairCtes(duck)},
         |edges AS (
         |  SELECT vec_a AS src, vec_b AS dst FROM pairs
         |  UNION ALL SELECT vec_b, vec_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (
         |  SELECT src AS vec_id, least(src, min(dst)) AS label
         |  FROM reach GROUP BY src)
         |SELECT e.vec_id,
         |  coalesce(l.label, e.vec_id) AS keeper_id,
         |  CAST(CASE WHEN l.label IS NOT NULL AND l.label <> e.vec_id
         |       THEN 1 ELSE 0 END AS BIGINT) AS is_dup
         |FROM embeddings e LEFT JOIN labels l ON e.vec_id = l.vec_id
         |ORDER BY e.vec_id""".stripMargin
    })

  /** t55 — BOILERPLATE SEGMENT REMOVAL (the C4/RefinedWeb line-dedup
    * shape, adapted to the corpus's single-line docs): split each doc
    * into non-overlapping 8-word segments, count how many DISTINCT docs
    * contain each segment, and REWRITE every doc with segments that
    * appear in more than 2 docs removed (navigation chrome, license
    * headers, templated footers at web scale). Output per doc: segment
    * counts before/removed and the reassembled text.
    *
    * Scale: the inverted index is one partial-aggregated shuffle of
    * (8-byte segment hash, doc_id); the boilerplate set (df > 2) is
    * SMALL by definition — it rides back into the scan as a one-row
    * CROSS JOIN (a broadcast of one array row), so the rewrite itself
    * (filter the
    * in-order segment array against the set, re-join with spaces) is
    * pure scan-side projection work: the corpus is never exploded into
    * a regroup shuffle and never leaves its input partitioning. Segment
    * identity is the [[TextSim.wordHash]] polynomial hash (codegen'd
    * `graft_poly_hash` on the Spark side), identical in both engines,
    * so collision behavior — not just expected values — matches the
    * oracle exactly. */
  private val t55 = dual() { d =>
    val ws = TextSim.tokens(d, "text")
    def sliceSegs(arr: String) =
      if (d eq sprk)
        d.transform(d.ramp(d.intDiv(s"(size($arr) + 7)", "8")),
          s"i -> array_join(slice($arr, (i - 1) * 8 + 1, 8), ' ')")
      else
        d.transform(d.ramp(d.intDiv(s"(len($arr) + 7)", "8")),
          s"i -> array_to_string(list_slice($arr, (i - 1) * 8 + 1, i * 8), ' ')")
    val joinFn = if (d eq sprk) "array_join" else "array_to_string"
    val filterFn = if (d eq sprk) "filter" else "list_filter"
    val containsFn = if (d eq sprk) "array_contains" else "list_contains"
    val collectSet = if (d eq sprk) "collect_set(h)" else "list(DISTINCT h)"
    // Sentinel −1 can never be a polynomial hash (they are ≥ 0): keeps
    // the membership array non-NULL when no segment crosses the df
    // threshold (an aggregate over zero rows yields one row with NULL,
    // and a NULL membership probe would silently drop every segment).
    // `ba` is a 1-row frame, so it rides in via CROSS JOIN and the
    // lambda references the plain column `bs` — Spark rejects
    // subqueries inside higher-order-function lambdas.
    val boilArr = s"coalesce(bs, ${d.arrayOf(Seq("CAST(-1 AS BIGINT)"))})"
    s"""WITH s AS (
       |  SELECT doc_id, source, ${sliceSegs(ws)} AS segs FROM documents),
       |sh AS (
       |  SELECT doc_id, source, segs,
       |    ${d.transform("segs", s"g -> ${TextSim.wordHash(d, "g")}")} AS seg_hs
       |  FROM s),
       |ex AS (SELECT doc_id, ${d.explode}(seg_hs) AS h FROM sh),
       |boil AS (
       |  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df FROM ex GROUP BY h) bd
       |  WHERE df > 2),
       |ba AS (SELECT $collectSet AS bs FROM boil),
       |k AS (
       |  SELECT doc_id, source, segs,
       |    ${d.transform(
                s"$filterFn(${d.ramp(s"${d.size}(segs)")}, i -> NOT $containsFn($boilArr, ${d.at("seg_hs", "i")}))",
                s"i -> ${d.at("segs", "i")}")} AS kept
       |  FROM sh CROSS JOIN ba)
       |SELECT doc_id, source,
       |  CAST(${d.size}(segs) AS BIGINT) AS n_segs,
       |  CAST(${d.size}(segs) - ${d.size}(kept) AS BIGINT) AS n_removed,
       |  coalesce($joinFn(kept, ' '), '') AS kept_text
       |FROM k ORDER BY doc_id""".stripMargin
    // ^ coalesce: DuckDB's array_to_string([]) is NULL where Spark's
    // array_join([]) is '' — divergent only for a 100%-boilerplate doc
    // (first seen at sf0.1; the sf0.001/sf0.01 corpora never hit it).
  }

  /** t56 — SemDeDup (the published semantic-dedup shape: k-means
    * cluster, then dedup INSIDE each cluster only). Where t54 resolves
    * the global LSH pair graph transitively, SemDeDup never builds a
    * global graph: every vector is assigned to a coarse cluster (t41's
    * trained quantizer, zero-shuffle scan-side argmin over the
    * broadcast centroid literal), and a vector is a duplicate iff some
    * LOWER-ID vector in the SAME cluster has cosine ≥ 0.4 — its keeper
    * is the smallest such id (a min aggregate, no iteration). Output is
    * the full manifest (vec_id, cell, keeper_id, is_dup).
    *
    * Scale: the only pair work is the within-cell self-equi-join, and
    * cells are corpus-scaled (k = ivfCells(n) ≈ √n-scaled, so expected
    * per-cell pair count stays bounded as n grows); the greedy
    * non-transitive contract is exactly what makes the method one
    * bounded join + one aggregate instead of a convergence loop —
    * cross-cell chains are deliberately NOT merged (the published
    * method's recall tradeoff, documented, not hidden). */
  private val t56 = {
    def stage(d: Dialect, fromV: String, centsCol: String): String =
      s"""fd AS (
         |  SELECT vec_id, embedding, ${TextSim.norm2(d, "embedding")} AS n2,
         |    ${d.transform(d.ramp(s"${d.size}(centsCol_)"), s"ci -> ${TextSim.dist2(d, "embedding", d.at("centsCol_", "ci"))}")} AS ds
         |  FROM (SELECT vec_id, embedding, $centsCol AS centsCol_ $fromV)),
         |assigned AS (
         |  SELECT vec_id, embedding, n2,
         |    CAST(${if (d eq sprk) "array_position" else "list_position"}(ds, ${d.arrayMin}(ds)) AS BIGINT) AS cell
         |  FROM fd),
         |dups AS (
         |  SELECT b.vec_id AS vec_id, min(a.vec_id) AS keeper_id
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${TextSim.dot(d, "a.embedding", "b.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) >= 0.4
         |  GROUP BY b.vec_id)
         |SELECT s.vec_id, s.cell,
         |  coalesce(d0.keeper_id, s.vec_id) AS keeper_id,
         |  CAST(CASE WHEN d0.keeper_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_dup
         |FROM assigned s LEFT JOIN dups d0 ON s.vec_id = d0.vec_id
         |ORDER BY s.vec_id""".stripMargin
    GQuery(
      fn = (s, dir) => {
        graft.functions.GraftFunctions.registerAll(s)
        Tables.embeddings(s, dir).createOrReplaceTempView("embeddings")
        // `assigned` (the argmin-over-64-centroid-distances projection)
        // is referenced THREE times by the tail (both self-join sides +
        // the final left join) — as a bare CTE, Catalyst inlines it and
        // the corpus pays the distance fold three times (r19 plan
        // sweep). Materialize it once; the tail reads the cache. The
        // SQL text below is stage()'s, split at the assigned/dups seam.
        val d = sprk
        val assigned = s.sql(
          s"""WITH fd AS (
             |  SELECT vec_id, embedding, ${TextSim.norm2(d, "embedding")} AS n2,
             |    ${d.transform(d.ramp(s"${d.size}(centsCol_)"), s"ci -> ${TextSim.dist2(d, "embedding", d.at("centsCol_", "ci"))}")} AS ds
             |  FROM (SELECT vec_id, embedding, ${trainCentroidLiteral(s)} AS centsCol_ FROM embeddings))
             |SELECT vec_id, embedding, n2,
             |  CAST(array_position(ds, array_min(ds)) AS BIGINT) AS cell
             |FROM fd""".stripMargin)
        // NOT persist(): r19 committed the refuting after-plan — the
        // cached plan's HOF `lambdafunction` (the distance-fold
        // transform) defeats CacheManager plan canonicalization, so the
        // tail's three references never substituted the cache and the
        // corpus paid the 64-centroid argmin three times (r19 verdict
        // "What's wrong" #3). An EAGER localCheckpoint computes the fold
        // exactly once and hands the tail a lambda-free LogicalRDD scan
        // that needs no canonicalization match at all. The checkpoint's
        // blocks are invisible to Dataset.unpersist, so they register
        // with the janitor by RDD id for the driver's barrier drain.
        val scT56 = s.sparkContext
        val beforeT56 = scT56.getPersistentRDDs.keySet
        val assignedCk = assigned.localCheckpoint()
        graft.CacheJanitor.registerRdds(scT56,
          scT56.getPersistentRDDs.keySet -- beforeT56)
        assignedCk.createOrReplaceTempView("t56_assigned")
        s.sql(
          s"""WITH dups AS (
             |  SELECT b.vec_id AS vec_id, min(a.vec_id) AS keeper_id
             |  FROM t56_assigned a JOIN t56_assigned b
             |    ON a.cell = b.cell AND a.vec_id < b.vec_id
             |  WHERE ${TextSim.dot(d, "a.embedding", "b.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) >= 0.4
             |  GROUP BY b.vec_id)
             |SELECT s.vec_id, s.cell,
             |  coalesce(d0.keeper_id, s.vec_id) AS keeper_id,
             |  CAST(CASE WHEN d0.keeper_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_dup
             |FROM t56_assigned s LEFT JOIN dups d0 ON s.vec_id = d0.vec_id
             |ORDER BY s.vec_id""".stripMargin)
      },
      oracle = Some {
        s"""WITH ${duckKmeansCtes()},
           |${stage(duck, s"FROM embeddings CROSS JOIN c${TextSim.ivfLloydIters} cj", "cj.cents")}""".stripMargin
      })
  }

  /** t57 — deterministic global shuffle + sharding (the training-loader
    * step after curation: examples must arrive in a reproducible
    * pseudorandom order, split into a fixed number of shard files).
    * Shard = salted polynomial hash of the doc id mod 16 (zero-shuffle
    * scan-side, the same hash-gate contract as t43/t52); position
    * within a shard = rank by (hash, doc_id) — a total order, so the
    * permutation is identical at any partitioning and any cluster size.
    *
    * Scale: one hash shuffle on `shard` for the per-shard window; shard
    * counts are hash-balanced by construction. At 100 TB the shard
    * count rises with the target file size and each shard's rank can
    * drop to the two-pass range-partition form (`Relational
    * .sequentialId`) — the ORDER is already decided by the hash, so
    * the operator parallelizes embarrassingly. */
  private val t57 = dual() { d =>
    val str = if (d eq sprk) "STRING" else "VARCHAR"
    val hv = TextSim.wordHash(d, s"concat('shuffle42:', CAST(doc_id AS $str))")
    s"""WITH h AS (SELECT doc_id, $hv AS hv FROM documents)
       |SELECT doc_id, hv,
       |  CAST(hv % 16 AS BIGINT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY hv % 16 ORDER BY hv, doc_id) AS BIGINT) AS pos
       |FROM h ORDER BY shard, pos""".stripMargin
  }

  /** t58 — temperature-reweighted source mixing (the multilingual /
    * multi-source sampling-weight step: p_i ∝ n_i^α with α = 1/2, the
    * standard dampening that upsamples small sources without letting
    * the head dominate). Emits per-source weights, per-100k target
    * counts, and the effective boost over natural frequency.
    *
    * Determinism across engines: sqrt is IEEE-correctly-rounded in
    * both, so per-source weights are exact; the one cross-source
    * reduction (Σ√n_i) is a LEFT-TO-RIGHT fold over the source-sorted
    * list — never a partial-aggregated double sum, whose order would
    * be partition-dependent. The reduction input is one row per
    * SOURCE (bounded ~100s), not per document, so the collect_list
    * stays tiny at any corpus size. */
  private val t58 = dual() { d =>
    val wdArr =
      if (d eq sprk) "transform(sort_array(collect_list(struct(source, wd))), s0 -> s0.wd)"
      else "list(wd ORDER BY source)"
    val wsum = d.foldDouble(wdArr, "(acc, x) -> acc + x")
    s"""WITH counts AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source),
       |w AS (SELECT source, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS wd FROM counts),
       |tot AS (SELECT $wsum AS wsum, CAST(sum(n_docs) AS BIGINT) AS n_total FROM w)
       |SELECT source, n_docs,
       |  wd / wsum AS weight,
       |  CAST(floor(wd / wsum * 100000.0) AS BIGINT) AS target_per_100k,
       |  (wd / wsum) / (CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)) AS boost
       |FROM w CROSS JOIN tot ORDER BY source""".stripMargin
  }

  /** t59 — bigram-LM fluency scoring (the CCNet-style model-based
    * quality signal, next to t31's surface ratios): a bigram language
    * model is "trained" on the corpus itself (bigram / prefix-unigram
    * counts), and each document is scored by its average bigram
    * conditional probability. Low scores flag documents made of rare
    * word transitions (garbled text); high scores flag templated
    * boilerplate — both ends of the distribution are curation signals.
    *
    * Determinism across engines, without logs: a perplexity uses
    * libm `ln` (not bit-stable across engines), so the score is kept
    * in probability space and every per-position term is an INTEGER —
    * term = (1e6 * c(w1,w2)) div c(w1·) ≤ 1e6 — summed exactly
    * (integer sums are order-independent at any partitioning); only
    * the final per-doc average divides in double, in a fixed order.
    * Bigrams are packed collision-free into one BIGINT
    * (h1 * 2^30 + h2, both hashes < 1e9+7 < 2^30), so prefix-unigram
    * counts are derived FROM the bigram counts by a shift-and-sum —
    * an aggregation of the already-reduced vocabulary frame, never a
    * second pass over the corpus.
    *
    * Scale: two hash aggregations and two equi-joins on bigram-sized
    * keys (vocabulary-scaled frames, AQE-handled); signature work is
    * scan-side; no driver-side staging, no iteration. */
  private val t59 = {
    val B = 1L << 30
    // Two Spark-side materialization points, both load-bearing:
    //  - the word-hash frame `w` is persisted so `wh` is a CACHED
    //    COLUMN when the bigram lambda indexes into it — as a plain
    //    projection Catalyst inlines the hash pipeline into the
    //    per-position lambda and every element_at(wh, i) recomputes
    //    the whole array: O(len²) hashing per doc (measured 6.4 s of
    //    the 8 s total at sf0.1);
    //  - the exploded (doc_id, packed-bigram) frame feeds two
    //    consumers (bigram counts, the scoring join), both cheap
    //    reads of the cache (t35's posting-list lesson).
    def whSql(d: Dialect): String =
      s"SELECT doc_id, ${TextSim.wordHashes(d, "text")} AS wh FROM documents"
    def eSql(d: Dialect, w: String): String =
      s"""SELECT doc_id, ${d.explode}(bhs) AS bh FROM (
         |  SELECT doc_id,
         |    ${d.transform(d.ramp(s"${d.size}(wh) - 1"),
                            s"i -> ${d.at("wh", "i")} * $B + ${d.at("wh", "i + 1")}")} AS bhs
         |  FROM $w WHERE ${d.size}(wh) >= 2) b0""".stripMargin
    def tail(d: Dialect, e: String): String =
      s"""cb AS (SELECT bh, CAST(count(*) AS BIGINT) AS c2 FROM $e GROUP BY bh),
         |cu AS (SELECT ${d.intDiv("bh", B.toString)} AS h1, CAST(sum(c2) AS BIGINT) AS c1
         |       FROM cb GROUP BY 1),
         |t AS (
         |  SELECT e0.doc_id, ${d.intDiv("(1000000 * cb.c2)", "cu.c1")} AS term
         |  FROM $e e0 JOIN cb ON e0.bh = cb.bh
         |         JOIN cu ON ${d.intDiv("e0.bh", B.toString)} = cu.h1)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(term) AS BIGINT) AS prob_ppm_sum,
         |  CAST(sum(term) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0 AS avg_bigram_prob
         |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin
    GQuery(
      fn = (s, dir) => {
        graft.functions.GraftFunctions.registerAll(s)
        Tables.documents(s, dir).createOrReplaceTempView("documents")
        val w = graft.CacheJanitor.register(s.sql(whSql(sprk)).persist())
        w.createOrReplaceTempView("t59_w")
        val e = graft.CacheJanitor.register(s.sql(eSql(sprk, "t59_w")).persist())
        e.createOrReplaceTempView("t59_e")
        s.sql(s"WITH ${tail(sprk, "t59_e")}")
      },
      oracle = Some(
        s"WITH w0 AS (${whSql(duck)}),\ne AS (${eSql(duck, "w0")}),\n${tail(duck, "e")}"))
  }

  /** t60 — PII detection + redaction (the scrubbing act every released
    * corpus runs: emails / phone numbers / long numeric identifiers →
    * class tokens, with per-class counts for the audit report). The
    * testdata carries no PII, so the operator first SHAPES a
    * deterministic contact string per customer row in-query (name +
    * synthetic mailbox + formatted phone + account number — stated
    * fixture, not hidden), then runs the real scan-side redaction over
    * it. Redaction order is fixed (email → phone → id-run) and each
    * class is counted on the PREVIOUS stage's output — the same string
    * its replacement actually scans — so every count equals exactly the
    * substitutions its stage performed (an id-run embedded in an email
    * local-part is the email stage's, never double-audited as an
    * id-run).
    *
    * Cross-engine regex discipline: Java regex (Spark) and RE2
    * (DuckDB) agree on character classes, alternation and bounded
    * quantifiers but NOT on backslash escapes inside SQL string
    * literals (Spark unescapes them, DuckDB does not) — so the
    * patterns use ONLY bracket classes ([.] for a literal dot, [+]
    * for a literal plus) and contain no backslash at all.
    *
    * Scale: pure scan-side regexp work, zero shuffles before the
    * final ORDER BY; at 100 TB this pipelines with any other per-doc
    * pass. */
  private val t60 = {
    def sql(d: Dialect): String = {
      def rep(s: String, pat: String, repl: String) =
        if (d eq sprk) s"regexp_replace($s, '$pat', '$repl')"
        else s"regexp_replace($s, '$pat', '$repl', 'g')"
      def cnt(s: String, pat: String) =
        if (d eq sprk) s"regexp_count($s, '$pat')"
        else s"len(regexp_extract_all($s, '$pat'))"
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
      val phone = "[+][0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val idrun = "[0-9]{6,}"
      val str = if (d eq sprk) "STRING" else "VARCHAR"
      val raw =
        s"""'contact ' || c_name || ' <user' || CAST(c_custkey AS $str) ||
           |    '@example.com> tel +1-555-' || lpad(CAST(c_custkey % 1000 AS $str), 3, '0') ||
           |    '-' || lpad(CAST(c_custkey % 10000 AS $str), 4, '0') ||
           |    ' ref ' || CAST(10000000 + (c_custkey * 1000003) % 10000000 AS $str)""".stripMargin
      s"""WITH raw AS (SELECT c_custkey, $raw AS txt FROM customer),
         |s1 AS (SELECT c_custkey, txt, ${rep("txt", email, "[EMAIL]")} AS txt_e FROM raw),
         |s2 AS (SELECT c_custkey, txt, txt_e, ${rep("txt_e", phone, "[PHONE]")} AS txt_p FROM s1)
         |SELECT c_custkey,
         |  CAST(${cnt("txt", email)} AS BIGINT) AS n_emails,
         |  CAST(${cnt("txt_e", phone)} AS BIGINT) AS n_phones,
         |  CAST(${cnt("txt_p", idrun)} AS BIGINT) AS n_id_runs,
         |  ${rep("txt_p", idrun, "[ID]")} AS redacted
         |FROM s2 ORDER BY c_custkey""".stripMargin
    }
    GQuery(
      fn = (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("customer")
        s.sql(sql(sprk))
      },
      oracle = Some(sql(duck)))
  }

  /** t61 — TF-IDF keyword extraction (per-document top-3 salient
    * terms — the feature side of quality classifiers and topic
    * reports). IDF is integer-exact: idf_ppm = (1e6 * N) div df, so
    * score = tf * idf_ppm is a BIGINT and the cross-engine compare
    * needs no float tolerance anywhere; rank ties break on the term
    * string, making the top-3 fully deterministic.
    *
    * Scale: one aggregation per (doc, term) for tf, one per term for
    * df (vocabulary-sized), the scalar doc count rides in via CROSS
    * JOIN (one row), and the per-doc top-3 is a partitioned window —
    * never a global sort. */
  private val t61 = dual() { d =>
    val toks = TextSim.tokens(d, "text")
    s"""WITH e AS (SELECT doc_id, ${d.explode}($toks) AS w FROM documents),
       |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM e GROUP BY doc_id, w),
       |df AS (SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM e GROUP BY w),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.w, tf.tf, df.df,
       |    tf.tf * ${d.intDiv("(1000000 * n.n_docs)", "df.df")} AS score
       |  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n),
       |ranked AS (
       |  SELECT doc_id, w, tf, df, score,
       |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, w AS term, tf, df, CAST(score AS BIGINT) AS score
       |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
  }

  /** PQ geometry: m subspaces × k centroids each (4-bit codes — 8 codes
    * replace 256 float bytes, the 64× compression step beyond t48's 4×).
    * Training cap per subspace mirrors the IVF contract (k ·
    * ivfTrainPerCell sample rows, ivfLloydIters Lloyd iterations). */
  private[graft] val pqM = 8
  private[graft] val pqK = 16
  private[graft] val pqCap: Long = pqK.toLong * TextSim.ivfTrainPerCell

  /** Driver-side PQ codebook training — [m][k][subDim] doubles. Every
    * float op replays the EXACT fold orders of [[duckPqCtes]] (left
    * fold dist2, first-position argmin, per-dim member sums in vec_id
    * order, empty cells keep the previous centroid), so the trained
    * codebooks are bit-identical to the oracle's CTE chain — the same
    * contract [[trainCentroids]] keeps for IVF, just in Scala instead
    * of staged SQL (the sample is ≤ pqCap rows, a bounded collect). */
  private[graft] def trainPqCodebooks(s: SparkSession, view: String = "embeddings")
      : Array[Array[Array[Double]]] = {
    require(pqCap <= s.conf.get("spark.sql.execution.topKSortFallbackThreshold").toLong,
      s"PQ training cap $pqCap exceeds topKSortFallbackThreshold — the LIMIT would plan as a global sort")
    // Driver-side vec_id sort over the collected sample — same
    // rationale and identical order as [[trainCentroids]] (r20).
    val rows = s.sql(
      s"""SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |  transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM (
         |  SELECT vec_id, embedding FROM $view
         |  ORDER BY ${TextSim.idShuffle("vec_id")}, vec_id LIMIT $pqCap)""".stripMargin)
      .collect().sortBy(_.getLong(0))
    val ids: Array[Long] = rows.map(_.getLong(0))
    val sample: Array[Array[Double]] = rows.map(_.getSeq[Double](1).toArray)
    require(sample.length >= pqK, s"degenerate PQ seed: ${sample.length} sample rows < $pqK")
    // Seed rows ranked by idShuffle, like the IVF trainer — see
    // trainCentroids for why an id-ordered seed re-biases the quantizer.
    val seedIdx = ids.indices.sortBy(i => (shuffleVal(ids(i)), ids(i))).take(pqK)
    val dim = sample(0).length
    require(dim % pqM == 0, s"embedding dim $dim not divisible by $pqM subspaces")
    val sub = dim / pqM
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val t0 = a(i) - b(i); acc = acc + t0 * t0; i += 1 }
      acc
    }
    Array.tabulate(pqM) { j =>
      val vecs = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      var cents = seedIdx.map(i => vecs(i).clone).toArray
      for (_ <- 1 to TextSim.ivfLloydIters) {
        val cells = vecs.map { v =>
          val ds = cents.map(c => dist2(v, c))
          ds.indexOf(ds.min)
        }
        cents = Array.tabulate(pqK) { ci =>
          val members = vecs.indices.filter(cells(_) == ci)
          if (members.isEmpty) cents(ci)
          else Array.tabulate(sub)(i0 =>
            members.foldLeft(0.0)((acc, mi) => acc + vecs(mi)(i0)) / members.size.toDouble)
        }
      }
      cents
    }
  }

  /** Subvector j (1-based) of a double-array column, sub-dim as an
    * expression so the oracle stays data-driven. */
  private[graft] def pqSubvec(d: Dialect, emb: String, j: String): String =
    if (d eq sprk) s"slice($emb, ($j - 1) * (size($emb) div $pqM) + 1, size($emb) div $pqM)"
    else s"list_slice($emb, ($j - 1) * (len($emb) // $pqM) + 1, $j * (len($emb) // $pqM))"

  // Shared PQ expression builders (t62 flat scan, t63 IVF-PQ). `cb` =
  // codebook array expr ([m][k][subDim] doubles), `pn2s` = per-code
  // reconstruction-norm² array expr ([m][k] doubles) — driver-computed
  // literals on Spark, columns of 1-row CTEs in the oracle. All operate
  // on a double-cast embedding column named by the caller (`ve`).

  /** Double-cast of the float embedding column. */
  private[graft] def pqVe(d: Dialect): String =
    if (d eq sprk) "transform(embedding, x -> CAST(x AS DOUBLE))"
    else "list_transform(embedding, x -> x::DOUBLE)"

  /** Spark's element_at requires an INT index; stored codes are BIGINT
    * (oracle-parity type), so index exprs cast at use site. */
  private[graft] def pqIdx(d: Dialect, e: String): String =
    if (d eq sprk) s"CAST($e AS INT)" else e

  /** Per-subspace argmin codes ([m] BIGINTs in 1..k) over column `ve`. */
  private[graft] def pqCodesExpr(d: Dialect, cb: String): String = {
    val subj = pqSubvec(d, "ve", "j")
    def dsExpr = d.transform(d.ramp(pqK.toString),
      s"c -> ${TextSim.dist2(d, subj, d.at(d.at(cb, "j"), "c"))}")
    val posFn = if (d eq sprk) "array_position" else "list_position"
    d.transform(d.ramp(pqM.toString),
      s"j -> CAST($posFn($dsExpr, ${d.arrayMin}($dsExpr)) AS BIGINT)")
  }

  /** Reconstruction norm² = Σ_j ‖cb[j][code_j]‖², from a codes column. */
  private[graft] def pqPn2Expr(d: Dialect, pn2s: String, codes: String): String =
    d.foldDouble(
      d.transform(d.ramp(pqM.toString),
        s"j -> ${d.at(d.at(pn2s, "j"), pqIdx(d, d.at(codes, "j")))}"),
      "(acc, x0) -> acc + x0")

  /** Flattened per-query LUT ([m·k] doubles): dot(q-subvector, each
    * sub-centroid), over column `ve`. */
  private[graft] def pqLutExpr(d: Dialect, cb: String): String = {
    val subj = pqSubvec(d, "ve", "j")
    s"flatten(${d.transform(d.ramp(pqM.toString),
      s"j -> ${d.transform(d.ramp(pqK.toString), s"c -> ${TextSim.dotHof(d, subj, d.at(d.at(cb, "j"), "c"))}")}")})"
  }

  /** ADC approximate dot: Σ_j luts[(j-1)·k + code_j] — pqM lookups. */
  private[graft] def pqApproxDot(d: Dialect, luts: String, codes: String): String =
    d.foldDouble(
      d.transform(d.ramp(pqM.toString),
        s"j -> ${d.at(luts, pqIdx(d, s"(j - 1) * $pqK + ${d.at(codes, "j")}"))}"),
      "(acc, x0) -> acc + x0")

  /** One per-subspace Lloyd chain in the oracle dialect (subspace `j`,
    * iteration `it`, previous codebook CTE `prev`). */
  private def duckPqIter(j: Int, it: Int, prev: String): String = {
    val d = duck
    s"""pd${it}_$j AS (
       |  SELECT t.vec_id, t.sub,
       |    ${d.transform(d.ramp("len(c.cents)"), s"ci -> ${TextSim.dist2(d, "t.sub", "c.cents[ci]")}")} AS ds
       |  FROM ptrain_$j t CROSS JOIN $prev c),
       |pa${it}_$j AS (SELECT vec_id, sub, CAST(list_position(ds, list_min(ds)) AS BIGINT) AS cell FROM pd${it}_$j),
       |pg${it}_$j AS (SELECT cell, list(sub ORDER BY vec_id) AS vecs FROM pa${it}_$j GROUP BY cell),
       |pn${it}_$j AS (
       |  SELECT cell, list_transform(range(1, len(vecs[1]) + 1),
       |    i -> list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(vecs, v -> v[i])),
       |                     (acc, x0) -> acc + x0) / CAST(len(vecs) AS DOUBLE)) AS cemb
       |  FROM pg${it}_$j),
       |pr${it}_$j AS (SELECT unnest(range(1, $pqK + 1)) AS ci),
       |pe${it}_$j AS (
       |  SELECT r0.ci AS ci, coalesce(n0.cemb, (SELECT cents FROM $prev)[r0.ci]) AS cemb
       |  FROM pr${it}_$j r0 LEFT JOIN pn${it}_$j n0 ON n0.cell = r0.ci),
       |pc${it}_$j AS (SELECT list(cemb ORDER BY ci) AS cents FROM pe${it}_$j)""".stripMargin
  }

  /** The oracle's full PQ training chain: per subspace, seed = the pqK
    * smallest vec_ids WITHIN the sample, then ivfLloydIters Lloyd
    * rounds; codebooks land in `pqcb.cbs` ([m][k][subDim]). Like the
    * IVF oracle, the sample is the pqCap rows by idShuffle order — the
    * exact selection the Spark trainer collects. */
  private def duckPqCtes: String = {
    val d = duck
    val chains = (1 to pqM).map { j =>
      val iters = (1 to TextSim.ivfLloydIters)
        .map(it => duckPqIter(j, it, if (it == 1) s"pc0_$j" else s"pc${it - 1}_$j")).mkString(",\n")
      s"""ptrain_$j AS (
         |  SELECT vec_id, ${pqSubvec(d, "emb", j.toString)} AS sub FROM ptrain),
         |pseed_$j AS (SELECT vec_id, sub,
         |  row_number() OVER (ORDER BY ${TextSim.idShuffle("vec_id")}, vec_id) AS rs FROM ptrain_$j),
         |pc0_$j AS (SELECT list(sub ORDER BY rs) AS cents FROM pseed_$j WHERE rs <= $pqK),
         |$iters""".stripMargin
    }.mkString(",\n")
    val last = s"pc${TextSim.ivfLloydIters}"
    val cbList = (1 to pqM).map(j => s"(SELECT cents FROM ${last}_$j)").mkString(", ")
    s"""ptrain0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb,
       |    row_number() OVER (ORDER BY ${TextSim.idShuffle("vec_id")}, vec_id) AS rn
       |  FROM embeddings),
       |ptrain AS (SELECT vec_id, emb FROM ptrain0 WHERE rn <= $pqCap),
       |$chains,
       |pqcb AS (SELECT list_value($cbList) AS cbs)""".stripMargin
  }

  /** t62 — PRODUCT-QUANTIZED ANN (the codebook companion to t48's
    * scalar quantizer): each vector is encoded as pqM 4-bit codes
    * (argmin sub-centroid per subspace — scan-side, zero shuffle) and
    * scored ASYMMETRICALLY: per query, a LUT of query-subvector ×
    * sub-centroid dot products is computed once (pqM·pqK doubles,
    * scan-side), and each candidate's approximate dot is just pqM
    * table lookups summed in a fixed-order fold — no float vector is
    * touched until the exact top-25 re-rank (to top-3; the pool is
    * wider than t48's top-10 because 4-bit ADC ranking is cruder — the
    * standard PQ compensation, still O(1) per query). This is the
    * classical ADC pipeline: at 100 TB the code table is 64× smaller
    * than the float corpus, and scoring reads only codes + the
    * per-query LUT, which is why PQ indexes fit in memory when float
    * scans cannot.
    *
    * Approximate norms use the reconstruction: pn2 = Σ_j
    * ‖cb[j][code_j]‖² — inlined as a driver-computed literal on the
    * Spark side (pqM·pqK doubles), recomputed by the oracle from its
    * CTE-trained codebooks. Bounded-query contract (25 probes), same
    * as t38/t48.
    *
    * Scale: encode + LUT build are scan-side projections; scoring is
    * the same bounded-query × corpus join as t48 but moving pqM
    * BIGINTs per row instead of the dim-wide code array — the shuffle
    * and memory story of a real PQ index. The codebook literal is
    * pqM·pqK·subDim doubles (~1k) — broadcast-trivial. */
  private val t62 = {
    def rankTail(d: Dialect): String =
      s"""cand AS (
         |  SELECT query_id, neighbor_id, approx_cosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx_cosine DESC, neighbor_id) AS rka
         |  FROM scored),
         |rer AS (
         |  SELECT c.query_id AS query_id, c.neighbor_id AS neighbor_id,
         |    c.approx_cosine AS approx_cosine,
         |    ${TextSim.dot(d, "q.embedding", "n.embedding")} / (sqrt(q.n2) * sqrt(n.n2)) AS cosine
         |  FROM cand c
         |  JOIN w q ON q.vec_id = c.query_id
         |  JOIN w n ON n.vec_id = c.neighbor_id
         |  WHERE c.rka <= 25),
         |ranked AS (
         |  SELECT query_id, neighbor_id, approx_cosine, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM rer)
         |SELECT query_id, neighbor_id, approx_cosine, cosine, rnk FROM ranked
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

    // The PQ ENCODE (argmin over m·k sub-centroid dist2 folds per row)
    // feeds three consumers (w, qs, scored) — plain WITH subqueries
    // would let Catalyst's CTE inlining recompute it once per consumer
    // (the t59/t66 inlining trap), so the Spark side materializes `enc`
    // as a persisted view and the tail reads it; DuckDB materializes
    // multiply-referenced CTEs natively, so the oracle keeps one chain.
    def encCtes(d: Dialect, cb: String, pn2s: String, from0: String, thru: String): String = {
      val ve = pqVe(d)
      s"""v0 AS (SELECT vec_id, embedding, $ve AS ve$thru $from0),
         |v1 AS (SELECT vec_id, embedding, ve$thru, ${pqCodesExpr(d, cb)} AS codes FROM v0),
         |enc AS (
         |  SELECT vec_id, embedding, ve$thru, ${TextSim.norm2(d, "embedding")} AS n2, codes,
         |    ${pqPn2Expr(d, pn2s, "codes")} AS pn2
         |  FROM v1)""".stripMargin
    }
    def tailCtes(d: Dialect, enc: String, cb: String): String =
      s"""w AS (SELECT vec_id, embedding, n2 FROM $enc),
         |qs AS (
         |  SELECT vec_id, embedding, n2, ${pqLutExpr(d, cb)} AS luts
         |  FROM $enc WHERE vec_id % 100 = 0 AND vec_id < 2500),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${pqApproxDot(d, "q.luts", "c.codes")} / (sqrt(q.n2) * sqrt(c.pn2)) AS approx_cosine
         |  FROM qs q JOIN $enc c ON c.vec_id <> q.vec_id),
         |${rankTail(d)}""".stripMargin

    GQuery(
      fn = (s, dir) => {
        graft.functions.GraftFunctions.registerAll(s)
        Tables.embeddings(s, dir).createOrReplaceTempView("embeddings")
        val cb = trainPqCodebooks(s)
        val cbL = cb.map(ck => ck.map(cv => cv.map(litD).mkString("array(", ", ", ")"))
          .mkString("array(", ", ", ")")).mkString("array(", ", ", ")")
        // Reconstruction norms, same left fold the oracle's SQL runs.
        val pn2 = cb.map(_.map(cv => cv.foldLeft(0.0)((acc, x0) => acc + x0 * x0)))
        val pn2L = pn2.map(_.map(litD).mkString("array(", ", ", ")")).mkString("array(", ", ", ")")
        val enc = s.sql(
          s"WITH ${encCtes(sprk, cbL, pn2L, "FROM embeddings", "")} SELECT * FROM enc")
        graft.CacheJanitor.register(enc.persist()).createOrReplaceTempView("t62_enc")
        s.sql(s"WITH ${tailCtes(sprk, "t62_enc", cbL)}")
      },
      oracle = Some {
        val d = duck
        val pn2Cte =
          s"""pqn AS (SELECT list_transform(cbs,
             |  cbj -> list_transform(cbj, cv -> ${TextSim.dotHof(d, "cv", "cv")})) AS pn2s FROM pqcb)""".stripMargin
        s"""WITH $duckPqCtes,
           |$pn2Cte,
           |${encCtes(d, "cbs", "pn2s",
                      "FROM embeddings CROSS JOIN pqcb CROSS JOIN pqn", ", cbs, pn2s")},
           |${tailCtes(d, "enc", "cbs")}""".stripMargin
      })
  }

  /** t63 — IVF-PQ: t41's trained coarse quantizer COMPOSED with t62's
    * product quantizer — the memory-extreme production index (FAISS
    * `IVF<nlist>,PQ8`). The corpus is assigned to cells scan-side
    * (argmin over the broadcast centroid literal) and stored as pqM
    * 4-bit codes + a precomputed reconstruction norm; each query
    * probes its 3 nearest cells and ADC-scores codes ONLY INSIDE THE
    * PROBED CELLS — the same `cell` equi-join as t49, but each scored
    * row moves 8 small codes instead of a 64-byte int8 array, and the
    * scoring arithmetic is pqM LUT lookups instead of a dim-wide
    * fold. Exact re-rank of the top-25 (t62's wider pool — 4-bit ADC
    * ranking is cruder than SQ8's) to a final top-3.
    *
    * At 100 TB this is the index you build when even SQ8 codes don't
    * fit cluster RAM: 64× smaller than floats, with the cell probe
    * bounding per-query work at ~(3/cells)·n code rows. The `enc`
    * frame IS the persistable index (cell-partitioned codes); built
    * in-plan here so the oracle replays identical arithmetic. */
  // `base` (norms + per-cell distance array) feeds FOUR consumers
  // (enc, q, and the re-rank's two self-joins) — the same CTE-inlining
  // trap t62 documents, with the dist2 ladder recomputed per consumer.
  // The Spark side persists base as a view WITHOUT the codebook
  // columns (they are literals there — caching them per row would
  // bloat the cache for no reuse); the oracle threads them through as
  // CTE columns, since DuckDB materializes shared CTEs natively.
  // Shared by t63 (pinned 3-probe bench form) and t76 (the persisted
  // DEFAULT-nprobe path, whose probe count is an expression).
  private def pqBaseCtes(d: Dialect, fromV: String, cents: String,
      carryDef: String, carryCols: String): String =
    s"""raw AS (SELECT vec_id, embedding, ${pqVe(d)} AS ve,
       |          $cents AS cents_$carryDef $fromV),
       |base AS (
       |  SELECT vec_id, embedding, ve$carryCols, ${TextSim.norm2(d, "embedding")} AS n2,
       |    ${d.transform(d.ramp(s"${d.size}(cents_)"), s"ci -> ${TextSim.dist2(d, "embedding", d.at("cents_", "ci"))}")} AS ds
       |  FROM raw)""".stripMargin

  private def pqTailCtes(d: Dialect, base: String, cb: String, pn2s: String,
      e0Carry: String, probes: String): String = {
    val pos = if (d eq sprk) "array_position" else "list_position"
    s"""enc AS (
       |  SELECT vec_id, cell, codes, ${pqPn2Expr(d, pn2s, "codes")} AS pn2
       |  FROM (
       |    SELECT vec_id$e0Carry,
       |      CAST($pos(ds, ${d.arrayMin}(ds)) AS BIGINT) AS cell,
       |      ${pqCodesExpr(d, cb)} AS codes
       |    FROM $base) e0),
       |q AS (SELECT vec_id, embedding, n2, $probes AS probes,
       |        ${pqLutExpr(d, cb)} AS luts
       |      FROM $base WHERE vec_id % 100 = 0 AND vec_id < 2500),
         |qp AS (SELECT vec_id, embedding, n2, luts, ${d.explode}(probes) AS cell FROM q),
         |scored AS (
         |  SELECT qp.vec_id AS query_id, c.vec_id AS neighbor_id, c.cell AS cell,
         |    ${pqApproxDot(d, "qp.luts", "c.codes")} / (sqrt(qp.n2) * sqrt(c.pn2)) AS approx_cosine
         |  FROM qp JOIN enc c ON c.cell = qp.cell AND c.vec_id <> qp.vec_id),
         |cand AS (
         |  SELECT query_id, neighbor_id, cell, approx_cosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx_cosine DESC, neighbor_id) AS rka
         |  FROM scored),
         |rer AS (
         |  SELECT c.query_id AS query_id, c.neighbor_id AS neighbor_id, c.cell AS cell,
         |    c.approx_cosine AS approx_cosine,
         |    ${TextSim.dot(d, "qe.embedding", "ne.embedding")} / (sqrt(qe.n2) * sqrt(ne.n2)) AS cosine
         |  FROM cand c
         |  JOIN $base qe ON qe.vec_id = c.query_id
         |  JOIN $base ne ON ne.vec_id = c.neighbor_id
         |  WHERE c.rka <= 25),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cell, approx_cosine, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM rer)
         |SELECT query_id, neighbor_id, cell, approx_cosine, cosine, rnk FROM ranked
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
  }

  private val t63 = GQuery(
    fn = (s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      Tables.embeddings(s, dir).createOrReplaceTempView("embeddings")
      val cbA = trainPqCodebooks(s)
      val cbL = cbA.map(ck => ck.map(cv => cv.map(litD).mkString("array(", ", ", ")"))
        .mkString("array(", ", ", ")")).mkString("array(", ", ", ")")
      val pn2 = cbA.map(_.map(cv => cv.foldLeft(0.0)((acc, x0) => acc + x0 * x0)))
      val pn2L = pn2.map(_.map(litD).mkString("array(", ", ", ")")).mkString("array(", ", ", ")")
      val base = s.sql(
        s"""WITH ${pqBaseCtes(sprk, "FROM embeddings", trainCentroidLiteral(s), "", "")}
           |SELECT * FROM base""".stripMargin)
      graft.CacheJanitor.register(base.persist()).createOrReplaceTempView("t63_base")
      s.sql(s"WITH ${pqTailCtes(sprk, "t63_base", cbL, pn2L, "",
        top3Cells(sprk, "ds"))}")
    },
    oracle = Some {
      val d = duck
      val pn2Cte =
        s"""pqn AS (SELECT list_transform(cbs,
           |  cbj -> list_transform(cbj, cv -> ${TextSim.dotHof(d, "cv", "cv")})) AS pn2s FROM pqcb)""".stripMargin
      s"""WITH ${duckKmeansCtes()},
         |$duckPqCtes,
         |$pn2Cte,
         |${pqBaseCtes(d,
            s"FROM embeddings CROSS JOIN c${TextSim.ivfLloydIters} cj CROSS JOIN pqcb CROSS JOIN pqn",
            "cj.cents", ", cbs AS cbs_, pn2s AS pn2s_", ", cbs_, pn2s_")},
         |${pqTailCtes(d, "base", "cbs_", "pn2s_", ", pn2s_", top3Cells(d, "ds"))}""".stripMargin
    })

  /** t76 — the PERSISTED `PqIndex.topK` DEFAULT-nprobe path through a
    * refreeze, oracle-checked: t75's contract on the PQ quantizer
    * chain, so BOTH persisted ANN families now have their ladder-aware
    * default proven end-to-end against the oracle (t63 pins the
    * 3-probe bench form inline; RefreezeSpec pins the migration
    * mechanics; the recall probe measures the default at tier scale).
    * Index built the production way — two halved ingests (coarse AND
    * PQ codebooks frozen on the evens), refreeze retrains both on the
    * live corpus — then `topK` with `nprobe = None` and exact re-rank.
    * The oracle replays the REFROZEN state as one full-corpus train +
    * encode chain (content-identical by RefreezeSpec) with the probe
    * count derived IN SQL from the cell ladder. */
  private val t76 = GQuery(
    fn = (s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.functions.GraftFunctions.registerAll(s)
      val root = java.nio.file.Files.createTempDirectory("graft_t76").toString
      val emb = Tables.embeddings(s, dir)
      val vecs = emb.selectExpr("vec_id", "embedding")
      graft.operators.PqIndex.ingest(s, root,
        vecs.where("vec_id % 2 = 0"), batchKey = Some("h1"))
      graft.operators.PqIndex.ingest(s, root,
        vecs.where("vec_id % 2 = 1"), batchKey = Some("h2"))
      graft.operators.PqIndex.refreeze(s, root, vecs)
      val qs = emb.where("vec_id % 100 = 0 AND vec_id < 2500")
        .selectExpr("vec_id AS query_id", "embedding")
      graft.operators.PqIndex.topK(s, root, qs, 3, rerank = Some(vecs))
        .orderBy(col("query_id"), col("rnk"))
    },
    oracle = Some {
      val d = duck
      val pn2Cte =
        s"""pqn AS (SELECT list_transform(cbs,
           |  cbj -> list_transform(cbj, cv -> ${TextSim.dotHof(d, "cv", "cv")})) AS pn2s FROM pqcb)""".stripMargin
      val npCte =
        s"""npr AS (SELECT greatest(CAST(3 AS BIGINT),
           |  CAST(floor((SELECT cells FROM m) / 4.0) AS BIGINT)) AS np)""".stripMargin
      s"""WITH ${duckKmeansCtes()},
         |$duckPqCtes,
         |$pn2Cte,
         |$npCte,
         |${pqBaseCtes(d,
            s"FROM embeddings CROSS JOIN c${TextSim.ivfLloydIters} cj CROSS JOIN pqcb CROSS JOIN pqn",
            "cj.cents", ", cbs AS cbs_, pn2s AS pn2s_", ", cbs_, pn2s_")},
         |${pqTailCtes(d, "base", "cbs_", "pn2s_", ", pn2s_",
            topNCellsExpr(d, "ds", "(SELECT np FROM npr)"))}""".stripMargin
    })

  /** t64 — sliding-window document CHUNKING (the pre-training step
    * between curation and packing: long documents become fixed-size
    * token windows with overlap so no training example spans a
    * document boundary and boundary context isn't lost). Window 32
    * tokens, stride 24 (8-token overlap); the final short window is
    * kept iff the doc has a tail (standard remainder handling —
    * ceil((n - window) / stride) + 1 chunks for n > window, 1 chunk
    * otherwise).
    *
    * Scale: pure scan-side — the chunk ramp, slices and joins are
    * per-row array ops; output rows ≈ n_tokens/stride × corpus, the
    * unavoidable output size. No shuffle before the final ORDER BY
    * (which a real pipeline replaces with a partitioned write). */
  private val t64 = dual() { d =>
    val win = 32; val stride = 24
    val toks = TextSim.tokens(d, "text")
    val joinFn = if (d eq sprk) "array_join" else "array_to_string"
    def sliceExpr(arr: String, from: String, len: Int) =
      if (d eq sprk) s"slice($arr, $from, $len)"
      else s"list_slice($arr, $from, ($from) + ${len - 1})"
    val nChunks =
      s"(CASE WHEN n <= $win THEN 1 ELSE ${d.intDiv(s"(n - $win + $stride - 1)", stride.toString)} + 1 END)"
    s"""WITH t AS (SELECT doc_id, source, $toks AS toks,
       |             CAST(${d.size}($toks) AS BIGINT) AS n FROM documents),
       |c AS (
       |  SELECT doc_id, source, n, ${d.explode}(${d.ramp(nChunks)}) AS chunk_idx, toks
       |  FROM t)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, source,
       |  CAST(least(n - (chunk_idx - 1) * $stride, $win) AS BIGINT) AS n_tokens,
       |  $joinFn(${sliceExpr("toks", s"(chunk_idx - 1) * $stride + 1", win)}, ' ') AS chunk_text
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** t65 — per-source QUALITY CALIBRATION (the step before threshold
    * filtering: raw quality scores are not comparable across sources —
    * a p25 cutoff must be a p25 WITHIN each source, or the filter
    * silently drops whole sources). Recomputes t31's quality score,
    * ranks it within each source (percent_rank, ties broken by the
    * score itself — deterministic because scores are fixed-order
    * double arithmetic), and emits the keep flag at the per-source
    * p25 threshold plus the per-source quartiles a pipeline records.
    *
    * Scale: one shuffle on `source` for the rank window (sources are
    * few; per-source partitions are the natural parallel unit — a
    * skewed mega-source splits by adding a salt to the window key and
    * merging rank offsets, the t57 two-pass form). */
  private val t65 = dual() { d =>
    val toks = TextSim.tokens(d, "text")
    val filterFn = if (d eq sprk) "filter" else "list_filter"
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(${d.size}($toks) AS BIGINT) AS n_tokens,
       |    CAST(${d.size}(${d.arrayDistinct}($toks)) AS BIGINT) AS n_distinct,
       |    CAST(${d.size}($filterFn($toks, w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, source,
       |    CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.5
       |      + (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.3
       |      + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
       |  FROM t),
       |r AS (
       |  SELECT doc_id, source, quality,
       |    percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id) AS pr
       |  FROM q)
       |SELECT doc_id, source, quality, pr,
       |  CAST(CASE WHEN pr >= 0.25 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** t66 — CURATION v2: the modern filter pass as ONE declarative plan,
    * composing the round's model-based signals with the classic gates —
    * surface quality (t31's formula) calibrated per source (t65's
    * percent_rank), bigram-LM fluency (t59), internal repetition
    * (t46's dup ratio), benchmark decontamination (t45's shared-shingle
    * evidence against the held-out eval slice, doc_id % 50 = 0), and a
    * length floor — emitting the per-doc keep decision WITH its reason
    * flags (the audit trail a released corpus ships with).
    *
    * Scale: every signal is scan-side or vocabulary-sized exactly as in
    * its standalone operator; the joins are doc-keyed equi-joins and
    * the only new shuffle is the per-source rank window. Spark persists
    * the word-hash, bigram and shingle frames once (the t37/t59
    * lambda-inlining lesson); the oracle replays the same chain as
    * CTEs. */
  private val t66 = {
    val B = 1L << 30
    def whS(d: Dialect): String =
      s"SELECT doc_id, source, ${TextSim.wordHashes(d, "text")} AS wh FROM documents"
    def eS(d: Dialect, w: String): String =
      s"""SELECT doc_id, ${d.explode}(bhs) AS bh FROM (
         |  SELECT doc_id,
         |    ${d.transform(d.ramp(s"${d.size}(wh) - 1"),
                            s"i -> ${d.at("wh", "i")} * $B + ${d.at("wh", "i + 1")}")} AS bhs
         |  FROM $w WHERE ${d.size}(wh) >= 2) b0""".stripMargin
    def shS(d: Dialect, w: String): String =
      s"""SELECT doc_id, ${TextSim.shingleHashes(d, "wh")} AS shs
         |FROM $w WHERE ${d.size}(wh) >= 3""".stripMargin
    def tail(d: Dialect, e: String, sh: String): String = {
      val toks = TextSim.tokens(d, "text")
      val filterFn = if (d eq sprk) "filter" else "list_filter"
      val containsProbe =
        if (d eq sprk) "size(array_intersect(s.shs, ev.es)) >= 1"
        else "len(list_intersect(s.shs, ev.es)) >= 1"
      val collectSet = if (d eq sprk) "collect_set(h)" else "list(DISTINCT h)"
      s"""base AS (
         |  SELECT doc_id, source,
         |    CAST(${d.size}($toks) AS BIGINT) AS n_tokens,
         |    CAST(${d.size}(${d.arrayDistinct}($toks)) AS BIGINT) AS n_distinct,
         |    CAST(${d.size}($filterFn($toks, w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
         |  FROM documents WHERE doc_id % 50 <> 0),
         |q0 AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.5
         |      + (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.3
         |      + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
         |  FROM base),
         |cb AS (SELECT bh, CAST(count(*) AS BIGINT) AS c2 FROM $e GROUP BY bh),
         |cu AS (SELECT ${d.intDiv("bh", B.toString)} AS h1, CAST(sum(c2) AS BIGINT) AS c1
         |       FROM cb GROUP BY 1),
         |tm AS (
         |  SELECT e0.doc_id, ${d.intDiv("(1000000 * cb.c2)", "cu.c1")} AS term
         |  FROM $e e0 JOIN cb ON e0.bh = cb.bh
         |         JOIN cu ON ${d.intDiv("e0.bh", B.toString)} = cu.h1),
         |fl AS (
         |  SELECT doc_id,
         |    CAST(sum(term) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0 AS fluency
         |  FROM tm GROUP BY doc_id),
         |rep AS (
         |  SELECT doc_id,
         |    1.0 - CAST(${d.size}(${d.arrayDistinct}(shs_)) AS DOUBLE)
         |        / CAST(${d.size}(shs_) AS DOUBLE) AS dup_ratio
         |  FROM (SELECT doc_id, shs AS shs_ FROM $sh) r0),
         |ev AS (
         |  SELECT $collectSet AS es
         |  FROM (SELECT ${d.explode}(shs) AS h FROM $sh WHERE doc_id % 50 = 0) x0),
         |cont AS (
         |  SELECT s.doc_id,
         |    CAST(CASE WHEN $containsProbe THEN 1 ELSE 0 END AS BIGINT) AS contaminated
         |  FROM $sh s CROSS JOIN ev WHERE s.doc_id % 50 <> 0),
         |r AS (
         |  SELECT q0.doc_id, q0.source, q0.n_tokens, q0.quality,
         |    coalesce(fl.fluency, 0.0) AS fluency,
         |    coalesce(rep.dup_ratio, 0.0) AS dup_ratio,
         |    coalesce(cont.contaminated, CAST(0 AS BIGINT)) AS contaminated
         |  FROM q0 LEFT JOIN fl ON q0.doc_id = fl.doc_id
         |          LEFT JOIN rep ON q0.doc_id = rep.doc_id
         |          LEFT JOIN cont ON q0.doc_id = cont.doc_id),
         |rk AS (
         |  SELECT r.*, percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id) AS q_rank
         |  FROM r)
         |SELECT doc_id, source, n_tokens, quality, q_rank, fluency, dup_ratio, contaminated,
         |  CAST(CASE WHEN q_rank >= 0.25 AND fluency >= 0.001 AND dup_ratio <= 0.6
         |              AND contaminated = 0 AND n_tokens >= 5
         |       THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM rk ORDER BY doc_id""".stripMargin
    }
    GQuery(
      fn = (s, dir) => {
        graft.functions.GraftFunctions.registerAll(s)
        Tables.documents(s, dir).createOrReplaceTempView("documents")
        val w = graft.CacheJanitor.register(s.sql(whS(sprk)).persist())
        w.createOrReplaceTempView("t66_w")
        val e = graft.CacheJanitor.register(s.sql(eS(sprk, "t66_w")).persist())
        e.createOrReplaceTempView("t66_e")
        val sh = graft.CacheJanitor.register(s.sql(shS(sprk, "t66_w")).persist())
        sh.createOrReplaceTempView("t66_sh")
        s.sql(s"WITH ${tail(sprk, "t66_e", "t66_sh")}")
      },
      oracle = Some {
        val d = duck
        s"""WITH w0 AS (${whS(d)}),
           |e AS (${eS(d, "w0")}),
           |sh AS (${shS(d, "w0")}),
           |${tail(d, "e", "sh")}""".stripMargin
      })
  }

  /** t67 — INCREMENTAL cross-corpus dedup, oracle-checked: the exact
    * pair semantics [[graft.operators.SignatureIndex.deltaPairs]]
    * maintains incrementally (pairs touching at least one NEW doc —
    * new-vs-old and new-vs-new, never old-vs-old), run here through the
    * OPERATOR ITSELF on a parity split of the corpus (odd doc_ids =
    * the increment) and replayed by the oracle as one CTE chain. The
    * operator's other guarantees (O(increment) batches, append-only
    * files, tombstones) are spec-pinned in `SignatureIndexSpec`; this
    * query adds the hash-compare proof of WHAT it computes.
    *
    * Scale: identical to t35's inverted-index story with the increment
    * on one join side — candidate count is bounded by |increment| ×
    * dfCap per posting, independent of the full corpus size. */
  private val t67 = GQuery(
    fn = (s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      val sigs = graft.CacheJanitor.register(
        graft.operators.SignatureIndex.signatures(Tables.documents(s, dir)).persist())
      graft.operators.SignatureIndex
        .deltaPairs(sigs, sigs.where("doc_id % 2 = 1"))
        .orderBy("doc_a", "doc_b")
    },
    oracle = Some {
      val d = duck
      s"""WITH sh AS (${shSql(d)}),
         |post AS (SELECT doc_id, ${d.explode}(shs) AS h FROM sh),
         |keep AS (SELECT h FROM post GROUP BY h HAVING count(*) <= $dfCap),
         |postf AS (SELECT post.doc_id, post.h FROM post JOIN keep ON post.h = keep.h),
         |newpost AS (SELECT doc_id AS new_id, h FROM postf WHERE doc_id % 2 = 1),
         |cand AS (
         |  SELECT DISTINCT least(new_id, doc_id) AS doc_a,
         |    greatest(new_id, doc_id) AS doc_b
         |  FROM newpost JOIN postf ON newpost.h = postf.h
         |  WHERE new_id <> doc_id)
         |${verifyTail(d, "sh", "cand")}""".stripMargin
    })

  /** t68 — INCREMENTAL cluster RESOLUTION, oracle-checked: two
    * maintenance batches (even doc_ids land first, odd doc_ids are the
    * increment) run through the OPERATORS themselves —
    * [[graft.operators.SignatureIndex.deltaPairs]] for each batch's
    * pairs, [[graft.operators.ClusterLabels.mergeFrames]] to fold them
    * into the persisted-label shape — and the final assignment is
    * hash-compared against a DuckDB from-scratch resolve (recursive
    * transitive closure over the union of both batches' pairs, t44's
    * machinery). This is the proof that merging per-batch deltas into a
    * label table IS connected components over the accumulated graph:
    * the batch-2 merge re-resolves only delta pairs ∪ touched old
    * components, never the full graph (ClusterLabelsSpec pins the
    * O(changed) append; this pins WHAT the merge computes).
    *
    * Scale: batch pairs are t67's O(increment) story; the merge's CC
    * input is increment ∪ touched components — the from-scratch closure
    * the ORACLE runs is exactly what does not scale, and exactly what
    * the operator avoids. */
  private val t68 = GQuery(
    fn = (s, dir) => {
      import org.apache.spark.sql.functions._
      graft.functions.GraftFunctions.registerAll(s)
      val sigs = graft.CacheJanitor.register(
        graft.operators.SignatureIndex.signatures(Tables.documents(s, dir)).persist())
      val even = sigs.where("doc_id % 2 = 0")
      val odd = sigs.where("doc_id % 2 = 1")
      val none = s.range(0).select(col("id").as("doc_id"), col("id").as("label"))
      val pairs1 = graft.operators.SignatureIndex.deltaPairs(even, even)
        .select("doc_a", "doc_b")
      val labels1 = graft.CacheJanitor.register(
        graft.operators.ClusterLabels.mergeFrames(none, pairs1, even.select("doc_id"))
          .persist())
      val pairs2 = graft.operators.SignatureIndex.deltaPairs(sigs, odd)
        .select("doc_a", "doc_b")
      val labels2 = graft.operators.ClusterLabels
        .mergeFrames(labels1, pairs2, odd.select("doc_id"))
      labels2.groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"), max(col("doc_id")).as("max_member"))
        .orderBy("cluster_id")
    },
    oracle = Some {
      val d = duck
      s"""WITH RECURSIVE sh AS (${shSql(d)}),
         |post1 AS (SELECT doc_id, ${d.explode}(shs) AS h FROM sh WHERE doc_id % 2 = 0),
         |keep1 AS (SELECT h FROM post1 GROUP BY h HAVING count(*) <= $dfCap),
         |postf1 AS (SELECT post1.doc_id, post1.h FROM post1 JOIN keep1 ON post1.h = keep1.h),
         |cand1 AS (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
         |    greatest(a.doc_id, b.doc_id) AS doc_b
         |  FROM postf1 a JOIN postf1 b ON a.h = b.h WHERE a.doc_id <> b.doc_id),
         |p1 AS (${verifyTail(d, "sh", "cand1")}),
         |post2 AS (SELECT doc_id, ${d.explode}(shs) AS h FROM sh),
         |keep2 AS (SELECT h FROM post2 GROUP BY h HAVING count(*) <= $dfCap),
         |postf2 AS (SELECT post2.doc_id, post2.h FROM post2 JOIN keep2 ON post2.h = keep2.h),
         |newpost2 AS (SELECT doc_id AS new_id, h FROM postf2 WHERE doc_id % 2 = 1),
         |cand2 AS (
         |  SELECT DISTINCT least(new_id, doc_id) AS doc_a,
         |    greatest(new_id, doc_id) AS doc_b
         |  FROM newpost2 JOIN postf2 ON newpost2.h = postf2.h WHERE new_id <> doc_id),
         |p2 AS (${verifyTail(d, "sh", "cand2")}),
         |pairs AS (SELECT doc_a, doc_b FROM p1 UNION SELECT doc_a, doc_b FROM p2),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |lab AS (
         |  SELECT src AS doc_id, least(src, min(dst)) AS label FROM reach GROUP BY src),
         |labels AS (
         |  SELECT sh.doc_id, coalesce(lab.label, sh.doc_id) AS label
         |  FROM sh LEFT JOIN lab ON sh.doc_id = lab.doc_id)
         |SELECT label AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |  max(doc_id) AS max_member
         |FROM labels GROUP BY label ORDER BY cluster_id""".stripMargin
    })

  /** t69 — INCREMENTAL embedding-cosine dedup, oracle-checked: the
    * exact pair semantics [[graft.operators.CosineDedupIndex]]
    * maintains — t67's proof, on the vector column. Two batches on the
    * parity split run through the operator's own `encode`/`deltaPairs`
    * (mask FROZEN from the first batch's count, the index's freeze
    * discipline), and the oracle replays both batches as one CTE chain:
    * batch 1 probes within the even half, batch 2 probes the odd
    * increment against the full corpus, both under the batch-1 mask.
    * The on-disk guarantees (append-only files, frozen-mask reuse,
    * tombstones, compaction) are spec-pinned in `CosineDedupIndexSpec`;
    * this adds the hash-compare proof of WHAT a batch computes.
    *
    * Scale: candidates are bounded by |increment| × 13 probes ×
    * ~16/bucket occupancy — independent of corpus size; the oracle's
    * from-scratch replay is what the operator avoids paying per batch. */
  private val t69 = GQuery(
    fn = (s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.functions.GraftFunctions.registerAll(s)
      val emb = Tables.embeddings(s, dir)
      // Frozen mask = ladder over the FIRST batch's count (a bounded
      // 1-row agg — the same staging contract as t41's cell count).
      val mask = TextSim.lshMaskValue(emb.where("vec_id % 2 = 0").count()).toLong
      val allCodes = graft.CacheJanitor.register(
        graft.operators.CosineDedupIndex.encode(emb, mask).persist())
      val evenCodes = allCodes.where("vec_id % 2 = 0")
      val oddCodes = allCodes.where("vec_id % 2 = 1")
      val pairs1 = graft.operators.CosineDedupIndex.deltaPairs(evenCodes, evenCodes, Some(mask))
      val pairs2 = graft.operators.CosineDedupIndex.deltaPairs(allCodes, oddCodes, Some(mask))
      pairs1.unionByName(pairs2).orderBy(col("vec_a"), col("vec_b"))
    },
    oracle = Some {
      val d = duck
      val probes = d.arrayOf("bucket" +: (0 until TextSim.lshPlanes)
        .map(k => d.xor("bucket", (1L << k).toString)))
      s"""WITH cnt1 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings WHERE vec_id % 2 = 0),
         |m AS (SELECT ${TextSim.lshMask("n")} AS mask FROM cnt1),
         |v AS (
         |  SELECT vec_id, embedding, ${TextSim.norm2(d, "embedding")} AS n2,
         |    ${TextSim.lshCode(d, "embedding")} % (SELECT mask FROM m) AS bucket
         |  FROM embeddings),
         |p1 AS (SELECT vec_id, ${d.explode}($probes) AS probe FROM v WHERE vec_id % 2 = 0),
         |cand1 AS (
         |  SELECT DISTINCT least(a.vec_id, b.vec_id) AS vec_a,
         |    greatest(a.vec_id, b.vec_id) AS vec_b
         |  FROM p1 a JOIN v b ON a.probe = b.bucket
         |    AND b.vec_id % 2 = 0 AND a.vec_id <> b.vec_id),
         |p2 AS (SELECT vec_id, ${d.explode}($probes) AS probe FROM v WHERE vec_id % 2 = 1),
         |cand2 AS (
         |  SELECT DISTINCT least(a.vec_id, b.vec_id) AS vec_a,
         |    greatest(a.vec_id, b.vec_id) AS vec_b
         |  FROM p2 a JOIN v b ON a.probe = b.bucket AND a.vec_id <> b.vec_id),
         |candu AS (SELECT vec_a, vec_b FROM cand1 UNION SELECT vec_a, vec_b FROM cand2),
         |scored AS (
         |  SELECT vec_a, vec_b,
         |    ${TextSim.dot(d, "a.embedding", "b.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
         |  FROM candu JOIN v a ON vec_a = a.vec_id JOIN v b ON vec_b = b.vec_id)
         |SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin
    })

  /** t70 — REFREEZE parity, oracle-checked: the ladder-step migration
    * [[graft.operators.CosineDedupIndex.refreeze]] performs, replayed
    * functionally over thirds of the corpus. Batches 1–2 ingest under
    * the mask FROZEN at batch 1's count; by then the live corpus has
    * outgrown that step (2× the first batch crosses exactly one ladder
    * boundary at every SF), so the operator refreezes — the mask is
    * RE-DERIVED from the live count and the survivors re-encoded under
    * it — and batch 3 probes under the new mask against the re-encoded
    * corpus. The oracle replays all three phases as one CTE chain with
    * BOTH masks. The on-disk migration mechanics (staged re-encode,
    * marker-gated commit, crash recovery, tombstone fold) are
    * spec-pinned in `RefreezeSpec`; this adds the hash-compare proof of
    * WHAT the migrated index computes — pre-migration pairs are kept
    * verbatim (refreeze re-encodes, it never re-emits), post-migration
    * batches see the new bucketing.
    *
    * Scale: the re-encode is one scan-side pass over the survivors (no
    * shuffle — [[graft.operators.CosineDedupIndex.encode]] is a
    * selectExpr), scheduled by the occupancy drift signal rather than
    * per batch; batch 3's candidates are bounded by |b3| × 13 probes ×
    * the RESTORED ~16/bucket occupancy — which is the point of the
    * migration. */
  private val t70 = GQuery(
    fn = (s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.functions.GraftFunctions.registerAll(s)
      val emb = Tables.embeddings(s, dir)
      // Frozen-then-refrozen masks: both bounded 1-row aggs (the same
      // staging contract as t69's single frozen mask).
      val mask1 = TextSim.lshMaskValue(emb.where("vec_id % 3 = 0").count()).toLong
      val mask2 = TextSim.lshMaskValue(emb.where("vec_id % 3 < 2").count()).toLong
      val oldCodes = graft.CacheJanitor.register(
        graft.operators.CosineDedupIndex.encode(emb.where("vec_id % 3 < 2"), mask1)
          .persist())
      val refrozen = graft.CacheJanitor.register(
        graft.operators.CosineDedupIndex.encode(emb, mask2).persist())
      val b1 = oldCodes.where("vec_id % 3 = 0")
      val pairs1 = graft.operators.CosineDedupIndex.deltaPairs(b1, b1, Some(mask1))
      val pairs2 = graft.operators.CosineDedupIndex.deltaPairs(
        oldCodes, oldCodes.where("vec_id % 3 = 1"), Some(mask1))
      val pairs3 = graft.operators.CosineDedupIndex.deltaPairs(
        refrozen, refrozen.where("vec_id % 3 = 2"), Some(mask2))
      pairs1.unionByName(pairs2).unionByName(pairs3)
        .orderBy(col("vec_a"), col("vec_b"))
    },
    oracle = Some {
      val d = duck
      val probes = d.arrayOf("bucket" +: (0 until TextSim.lshPlanes)
        .map(k => d.xor("bucket", (1L << k).toString)))
      s"""WITH c AS (
         |  SELECT vec_id, embedding, ${TextSim.norm2(d, "embedding")} AS n2,
         |    ${TextSim.lshCode(d, "embedding")} AS code
         |  FROM embeddings),
         |cnt1 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings WHERE vec_id % 3 = 0),
         |m1 AS (SELECT ${TextSim.lshMask("n")} AS mask FROM cnt1),
         |cnt2 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings WHERE vec_id % 3 < 2),
         |m2 AS (SELECT ${TextSim.lshMask("n")} AS mask FROM cnt2),
         |v1 AS (
         |  SELECT vec_id, code % (SELECT mask FROM m1) AS bucket
         |  FROM c WHERE vec_id % 3 < 2),
         |v2 AS (SELECT vec_id, code % (SELECT mask FROM m2) AS bucket FROM c),
         |p1 AS (SELECT vec_id, ${d.explode}($probes) AS probe FROM v1 WHERE vec_id % 3 = 0),
         |cand1 AS (
         |  SELECT DISTINCT least(a.vec_id, b.vec_id) AS vec_a,
         |    greatest(a.vec_id, b.vec_id) AS vec_b
         |  FROM p1 a JOIN v1 b ON a.probe = b.bucket
         |    AND b.vec_id % 3 = 0 AND a.vec_id <> b.vec_id),
         |p2 AS (SELECT vec_id, ${d.explode}($probes) AS probe FROM v1 WHERE vec_id % 3 = 1),
         |cand2 AS (
         |  SELECT DISTINCT least(a.vec_id, b.vec_id) AS vec_a,
         |    greatest(a.vec_id, b.vec_id) AS vec_b
         |  FROM p2 a JOIN v1 b ON a.probe = b.bucket AND a.vec_id <> b.vec_id),
         |p3 AS (SELECT vec_id, ${d.explode}($probes) AS probe FROM v2 WHERE vec_id % 3 = 2),
         |cand3 AS (
         |  SELECT DISTINCT least(a.vec_id, b.vec_id) AS vec_a,
         |    greatest(a.vec_id, b.vec_id) AS vec_b
         |  FROM p3 a JOIN v2 b ON a.probe = b.bucket AND a.vec_id <> b.vec_id),
         |candu AS (
         |  SELECT vec_a, vec_b FROM cand1
         |  UNION SELECT vec_a, vec_b FROM cand2
         |  UNION SELECT vec_a, vec_b FROM cand3),
         |scored AS (
         |  SELECT vec_a, vec_b,
         |    ${TextSim.dot(d, "a.embedding", "b.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
         |  FROM candu JOIN c a ON vec_a = a.vec_id JOIN c b ON vec_b = b.vec_id)
         |SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin
    })

  /** t71 — ANN REFREEZE parity, oracle-checked: t70's lifecycle proof
    * for the QUANTIZED index family ([[graft.operators.AnnIndex]] /
    * [[graft.operators.PqIndex]]), whose refreeze RETRAINS rather than
    * re-derives. Phase 1 is the index state after two ingests under the
    * quantizer+stats FROZEN at batch 1 (trained on the even half — the
    * freeze discipline); by then the live corpus has outgrown batch 1's
    * IVF cell ladder step (2× crosses exactly one boundary at every
    * SF), so refreeze retrains BOTH artifacts on the full live corpus
    * at the new step and re-encodes — phase 2 is that migrated state.
    * Each phase emits the per-vector cell assignment and the int8 code
    * checksum; the oracle replays BOTH quantizer trainings (two
    * prefixed k-means CTE chains + two stats chains) and both encodes.
    * `RefreezeSpec` pins the on-disk mechanics (staged quantizer+codes,
    * marker-gated joint swap, crash recovery, == from-scratch build);
    * this adds the cross-engine proof of WHAT the retrained quantizer
    * and re-encoded index contain.
    *
    * Scale: both trainings collect one bounded sample (cells ×
    * [[TextSim.ivfTrainPerCell]] rows); assignment + codes are
    * scan-side projections over broadcast literals — no shuffle, no
    * join; the oracle's double replay is the price of proving the
    * migration, paid by DuckDB, not the operator. */
  private val t71 = {
    // One lifecycle phase: scan-side cell assignment + code checksum
    // under a given quantizer. `centsRef`/`mnsRef`/`spansRef` are array
    // exprs — broadcast literals on Spark, CTE columns in the oracle.
    def phaseSel(d: Dialect, pno: Int, fromV: String, centsRef: String,
        mnsRef: String, spansRef: String): String =
      s"""SELECT CAST($pno AS BIGINT) AS phase, vec_id,
         |  CAST(${if (d eq sprk) "array_position" else "list_position"}(ds_, ${d.arrayMin}(ds_)) AS BIGINT) AS cell,
         |  ${d.foldLong("codes_", 0L, "(acc, c0) -> acc + c0")} AS code_sum
         |FROM (
         |  SELECT vec_id,
         |    ${d.transform(d.ramp(s"${d.size}(cents_)"), s"ci -> ${TextSim.dist2(d, "embedding", d.at("cents_", "ci"))}")} AS ds_,
         |    ${qCodes(d, "embedding", "mns_", "spans_", s"${d.size}(mns_)")} AS codes_
         |  FROM (SELECT vec_id, embedding, $centsRef AS cents_,
         |        $mnsRef AS mns_, $spansRef AS spans_ $fromV)) ph$pno""".stripMargin
    GQuery(
      fn = (s, dir) => {
        graft.functions.GraftFunctions.registerAll(s)
        val emb = Tables.embeddings(s, dir)
        emb.createOrReplaceTempView("embeddings")
        emb.where("vec_id % 2 = 0").createOrReplaceTempView("graft_t71_frozen")
        val c1 = trainCentroids(s, "graft_t71_frozen")
        val (mn1, sp1) = quantStats(s, "graft_t71_frozen")
        val c2 = trainCentroids(s, "embeddings")
        val (mn2, sp2) = quantStats(s, "embeddings")
        def arr(a: Array[Double]) = a.map(litD).mkString("array(", ", ", ")")
        s.sql(
          s"""${phaseSel(sprk, 1, "FROM embeddings", centsLit(c1), arr(mn1), arr(sp1))}
             |UNION ALL
             |${phaseSel(sprk, 2, "FROM embeddings", centsLit(c2), arr(mn2), arr(sp2))}
             |ORDER BY phase, vec_id""".stripMargin)
      },
      oracle = Some {
        s"""WITH ${duckKmeansCtes("f", "WHERE vec_id % 2 = 0")},
           |${duckQuantCtes("f", "WHERE vec_id % 2 = 0")},
           |${duckKmeansCtes()},
           |${duckQuantCtes()}
           |${phaseSel(duck, 1,
          s"FROM embeddings CROSS JOIN fc${TextSim.ivfLloydIters} cj1 CROSS JOIN farrs qa1",
          "cj1.cents", "qa1.mns", "qa1.spans")}
           |UNION ALL
           |${phaseSel(duck, 2,
          s"FROM embeddings CROSS JOIN c${TextSim.ivfLloydIters} cj2 CROSS JOIN arrs qa2",
          "cj2.cents", "qa2.mns", "qa2.spans")}
           |ORDER BY phase, vec_id""".stripMargin
      })
  }

  /** t72 — TAKEDOWN-aware incremental dedup, oracle-checked: the
    * deletion semantics [[graft.operators.SignatureIndex.remove]] +
    * [[graft.operators.DedupPipeline.maintainOnce]] guarantee, as a
    * cross-engine answer proof (the on-disk tombstone/compaction
    * mechanics are spec-pinned; t67/t68 prove the no-deletion
    * lifecycle). Batch 1 resolves the even half; a takedown then
    * removes `doc_id % 10 = 6` (an even-only residue — docs already
    * indexed and labelled); batch 2's increment (the odd half) runs
    * against the LIVE index only. Three effects, all replayed by the
    * oracle: (1) a removed doc generates no batch-2 candidates — it
    * can no longer bridge clusters; (2) document frequencies are
    * re-evaluated over the LIVE postings, so a shingle the removal
    * pulled back under the df cap generates candidates again (the
    * operator's live-df contract, not a frozen-df approximation);
    * (3) batch-1 pairs and labels persist — removal changes future
    * candidate generation, never recorded facts. Final answer: the
    * cluster summary of the merged label table, hash-matched against a
    * DuckDB transitive closure over batch-1 pairs ∪ live-filtered
    * batch-2 pairs.
    *
    * Scale: identical shape to t68 (the oracle's from-scratch closure
    * is what the operator avoids); the takedown itself is O(removed)
    * — an anti-join against a side table every read path applies. */
  private val t72 = GQuery(
    fn = (s, dir) => {
      import org.apache.spark.sql.functions._
      graft.functions.GraftFunctions.registerAll(s)
      val sigs = graft.CacheJanitor.register(
        graft.operators.SignatureIndex.signatures(Tables.documents(s, dir)).persist())
      val even = sigs.where("doc_id % 2 = 0")
      val none = s.range(0).select(col("id").as("doc_id"), col("id").as("label"))
      val pairs1 = graft.operators.SignatureIndex.deltaPairs(even, even)
        .select("doc_a", "doc_b")
      val labels1 = graft.CacheJanitor.register(
        graft.operators.ClusterLabels.mergeFrames(none, pairs1, even.select("doc_id"))
          .persist())
      // The takedown: %10=6 tombstoned between batches. Every read goes
      // through Tombstones.live — this filter IS that anti-join's
      // effect on the live index (the persisted form is spec-pinned).
      val live = sigs.where("doc_id % 10 <> 6")
      val odd = live.where("doc_id % 2 = 1")
      val pairs2 = graft.operators.SignatureIndex.deltaPairs(live, odd)
        .select("doc_a", "doc_b")
      val labels2 = graft.operators.ClusterLabels
        .mergeFrames(labels1, pairs2, odd.select("doc_id"))
      labels2.groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"), max(col("doc_id")).as("max_member"))
        .orderBy("cluster_id")
    },
    oracle = Some {
      val d = duck
      s"""WITH RECURSIVE sh AS (${shSql(d)}),
         |post1 AS (SELECT doc_id, ${d.explode}(shs) AS h FROM sh WHERE doc_id % 2 = 0),
         |keep1 AS (SELECT h FROM post1 GROUP BY h HAVING count(*) <= $dfCap),
         |postf1 AS (SELECT post1.doc_id, post1.h FROM post1 JOIN keep1 ON post1.h = keep1.h),
         |cand1 AS (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
         |    greatest(a.doc_id, b.doc_id) AS doc_b
         |  FROM postf1 a JOIN postf1 b ON a.h = b.h WHERE a.doc_id <> b.doc_id),
         |p1 AS (${verifyTail(d, "sh", "cand1")}),
         |post2 AS (SELECT doc_id, ${d.explode}(shs) AS h FROM sh WHERE doc_id % 10 <> 6),
         |keep2 AS (SELECT h FROM post2 GROUP BY h HAVING count(*) <= $dfCap),
         |postf2 AS (SELECT post2.doc_id, post2.h FROM post2 JOIN keep2 ON post2.h = keep2.h),
         |newpost2 AS (SELECT doc_id AS new_id, h FROM postf2 WHERE doc_id % 2 = 1),
         |cand2 AS (
         |  SELECT DISTINCT least(new_id, doc_id) AS doc_a,
         |    greatest(new_id, doc_id) AS doc_b
         |  FROM newpost2 JOIN postf2 ON newpost2.h = postf2.h WHERE new_id <> doc_id),
         |p2 AS (${verifyTail(d, "sh", "cand2")}),
         |pairs AS (SELECT doc_a, doc_b FROM p1 UNION SELECT doc_a, doc_b FROM p2),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |lab AS (
         |  SELECT src AS doc_id, least(src, min(dst)) AS label FROM reach GROUP BY src),
         |labels AS (
         |  SELECT sh.doc_id, coalesce(lab.label, sh.doc_id) AS label
         |  FROM sh LEFT JOIN lab ON sh.doc_id = lab.doc_id)
         |SELECT label AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |  max(doc_id) AS max_member
         |FROM labels GROUP BY label ORDER BY cluster_id""".stripMargin
    })

  /** Shared t73 SQL fragments over a dialect: positional k-gram rolling
    * hashes (k = [[esdK]] tokens), starts [1..n-k+1], hash = 131-base
    * fold of the k word hashes mod P (t33's fingerprint arithmetic —
    * BIGINT-exact in both engines). */
  private val esdK = 8

  private def esdSlice(d: Dialect, arr: String, i: String, len: Int): String =
    if (d eq sprk) s"slice($arr, $i, $len)"
    else s"list_slice($arr, $i, $i + ${len - 1})"

  private def esdWSql(d: Dialect): String =
    // `n` stays the engine-native size type (INT in Spark, BIGINT in
    // DuckDB): it feeds ramp()/slice()/element_at(), which take INT
    // indices on the Spark side; the output column casts to BIGINT.
    s"""SELECT doc_id, wh, ${d.size}(wh) AS n
       |FROM (SELECT doc_id, ${TextSim.wordHashes(d, "text")} AS wh FROM documents)""".stripMargin

  private def esdKgSql(d: Dialect, w: String): String =
    s"""SELECT doc_id, i,
       |  ${d.foldLong(esdSlice(d, "wh", "i", esdK), 7L, s"(h, x) -> (h * 131 + x) % ${TextSim.P}")} AS kh
       |FROM (SELECT doc_id, wh, ${d.explode}(${d.ramp(s"n - ${esdK - 1}")}) AS i
       |      FROM $w WHERE n >= $esdK)""".stripMargin

  /** The report/act tail over views/CTEs `w` (doc_id, wh, n) and `kg`
    * (doc_id, i, kh): duplicated k-grams → covered positions → per-doc
    * removal accounting + cleaned-stream fingerprint. */
  private def esdTail(d: Dialect, w: String, kg: String): String = {
    val filterFn = if (d eq sprk) "filter" else "list_filter"
    val containsFn = if (d eq sprk) "array_contains" else "list_contains"
    val sortList = if (d eq sprk) "sort_array" else "list_sort"
    val aggList = if (d eq sprk) "collect_list(p)" else "list(p)"
    // Kept word hashes in original order: positions not covered by any
    // duplicated window (filter preserves the ramp's ascending order in
    // both engines, so the fold replays the cleaned token stream).
    val kept = filterFn match {
      case "filter" => s"transform(filter(${d.ramp("n")}, p -> NOT $containsFn(ps, p)), p -> element_at(wh, p))"
      case _ => s"list_transform(list_filter(${d.ramp("n")}, p -> NOT $containsFn(ps, p)), p -> wh[p])"
    }
    val fp = (arr: String) => d.foldLong(arr, 7L, s"(h, x) -> (h * 131 + x) % ${TextSim.P}")
    s"""dup AS (SELECT kh FROM $kg GROUP BY kh HAVING count(*) >= 2),
       |ds AS (SELECT g.doc_id, g.i FROM $kg g JOIN dup ON g.kh = dup.kh),
       |cov AS (
       |  SELECT DISTINCT doc_id, i + j - 1 AS p
       |  FROM (SELECT doc_id, i, ${d.explode}(${d.ramp(esdK.toString)}) AS j FROM ds)),
       |cv AS (SELECT doc_id, $sortList($aggList) AS ps FROM cov GROUP BY doc_id),
       |dupdocs AS (
       |  SELECT w.doc_id, w.n, CAST(${d.size}(cv.ps) AS BIGINT) AS n_dup,
       |    ${fp(kept)} AS clean_fp
       |  FROM $w w JOIN cv ON w.doc_id = cv.doc_id),
       |cleandocs AS (
       |  SELECT doc_id, n, CAST(0 AS BIGINT) AS n_dup, ${fp("wh")} AS clean_fp
       |  FROM $w WHERE doc_id NOT IN (SELECT doc_id FROM cv)),
       |u AS (SELECT * FROM dupdocs UNION ALL SELECT * FROM cleandocs)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, n_dup,
       |  CAST(n_dup AS DOUBLE) / CAST(n AS DOUBLE) AS dup_ratio, clean_fp
       |FROM u ORDER BY doc_id""".stripMargin
  }

  /** t73 — EXACT-SUBSTRING dedup (the second half of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": their
    * ExactSubstr pass removes any ≥50-BPE-token span that appears
    * verbatim elsewhere in the corpus). Re-expressed for a distributed
    * engine as a POSITIONAL k-gram inverted index (k = 8 word tokens at
    * this corpus scale): any window whose rolling hash occurs at ≥ 2
    * sites (cross-document or a self-repeat) marks all k of its token
    * positions duplicated; the output is the per-doc removal accounting
    * (duplicated positions, removal ratio) plus a BIGINT-exact
    * fingerprint of the CLEANED token stream — duplicated positions
    * dropped, order preserved — i.e. the act step's result, hash-checkable
    * without comparing full rewritten text blobs.
    *
    * Scale: the reference implementation builds a single suffix array —
    * inherently single-machine; the positional k-gram index is the
    * shuffle-friendly equivalent. kg has one row per token (scan-side
    * slice-fold, O(k) per row), `dup` is one hash-keyed aggregate, and
    * `ds` joins kg against the duplicated-hash SET — fan-out ≤ |kg|,
    * never a pair self-join, so a k-gram repeated m times costs m rows
    * (not m²). Coverage expansion is a bounded ×k explode, and the
    * per-doc tail is one aggregation + one broadcast-able join. The
    * heavy kg frame is computed ONCE and persisted on the Spark side
    * (referenced by both `dup` and `ds` — an unpersisted CTE would
    * recompute the corpus-sized slice-fold scan twice). */
  private val t73 = GQuery(
    fn = (s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents")
      val w = graft.CacheJanitor.register(s.sql(esdWSql(sprk)).persist())
      w.createOrReplaceTempView("t73_w")
      val kg = graft.CacheJanitor.register(s.sql(esdKgSql(sprk, "t73_w")).persist())
      kg.createOrReplaceTempView("t73_kg")
      s.sql(s"WITH ${esdTail(sprk, "t73_w", "t73_kg")}")
    },
    oracle = Some {
      val d = duck
      s"""WITH w AS (${esdWSql(d)}),
         |kg AS (${esdKgSql(d, "w")}),
         |${esdTail(d, "w", "kg")}""".stripMargin
    })

  /** t74 — the PERSISTED indexed batch path, oracle-checked: t67 proves
    * the frame-level delta-pair semantics; this runs the same parity
    * split THROUGH [[graft.operators.SignatureIndex.ingest]]'s on-disk
    * posting/df side tables (fresh throwaway root per invocation — the
    * evens land as batch 1, the odds as batch 2) and hash-compares the
    * batch-2 delta, computed by `deltaPairsIndexed` explicitly so the
    * size switch cannot route around the path under test, against the
    * identical DuckDB replay. The oracle-level proof that the
    * derived-log fast path IS [[graft.operators.SignatureIndex
    * .deltaPairs]] — candidate df caps from the persisted df log,
    * candidates from the persisted postings, verify over the
    * candidate-semi-joined signature scan.
    *
    * Scale: t67's story plus the round-11 side tables — the corpus-side
    * logs are scanned (slim columns, broadcast-filtered), never
    * shuffled or re-exploded; measured ~4 µs/doc residual slope in the
    * 100-batch x100 loop (SCALEBENCH_r11_x100loop). */
  private val t74 = GQuery(
    fn = (s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.functions.GraftFunctions.registerAll(s)
      val root = java.nio.file.Files.createTempDirectory("graft_t74").toString
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      graft.operators.SignatureIndex.ingest(s, root,
        docs.where("doc_id % 2 = 0"), batchKey = Some("b1"))
      val b2 = graft.operators.SignatureIndex.ingest(s, root,
        docs.where("doc_id % 2 = 1"), batchKey = Some("b2"))
      graft.operators.SignatureIndex
        .deltaPairsIndexed(s, root, b2.newSigs)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    oracle = t67.oracle) // same semantics, same replay — by design

  /** t75 — the PERSISTED `AnnIndex.topK` DEFAULT-nprobe path through a
    * refreeze, oracle-checked (round-13 verdict item #3): t49 proves the
    * IVF-SQ8 plan shape inline, t71 proves the refreeze retraining, and
    * the recall probe measures the ladder-aware default at tier scale —
    * but no oracle row exercised the persisted `topK` answering at its
    * DEFAULT probe count (`probesFor(cells) = max(3, cells/4)`) the way
    * t74 does for the pruned dedup probe. Here the index is built the
    * production way: two halved ingests (quantizer frozen on the evens),
    * then [[graft.operators.AnnIndex.refreeze]] over the live corpus,
    * then `topK` with `nprobe = None` and exact re-rank. The oracle
    * replays the REFROZEN state — spec-pinned content-identical to a
    * from-scratch full-corpus build — as one train + encode chain, with
    * the probe count derived IN SQL from the same cell ladder
    * (`greatest(3, floor(cells/4))`), so a probesFor drift at any SF
    * where the formula departs from the floor breaks the hash match.
    *
    * Scale: the query-side collect is np·|Q| longs (the ladder-aware
    * bound [[graft.operators.AnnIndex.topK]] documents); the codes read
    * stays probed-cells-only. */
  private val t75 = GQuery(
    fn = (s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.functions.GraftFunctions.registerAll(s)
      val root = java.nio.file.Files.createTempDirectory("graft_t75").toString
      val emb = Tables.embeddings(s, dir)
      val vecs = emb.selectExpr("vec_id", "embedding")
      graft.operators.AnnIndex.ingest(s, root,
        vecs.where("vec_id % 2 = 0"), batchKey = Some("h1"))
      graft.operators.AnnIndex.ingest(s, root,
        vecs.where("vec_id % 2 = 1"), batchKey = Some("h2"))
      graft.operators.AnnIndex.refreeze(s, root, vecs)
      val qs = emb.where("vec_id % 100 = 0 AND vec_id < 2500")
        .selectExpr("vec_id AS query_id", "embedding")
      graft.operators.AnnIndex.topK(s, root, qs, 3, rerank = Some(vecs))
        .orderBy(col("query_id"), col("rnk"))
    },
    oracle = Some {
      val d = duck
      val pos = "list_position"
      s"""WITH ${duckKmeansCtes()},
         |${duckQuantCtes()},
         |raw AS (SELECT vec_id, embedding, cj.cents AS cents_, a.mns AS mns_, a.spans AS spans_
         |        FROM embeddings CROSS JOIN c${TextSim.ivfLloydIters} cj CROSS JOIN arrs a),
         |base AS (
         |  SELECT vec_id, embedding, mns_, spans_, ${TextSim.norm2(d, "embedding")} AS n2,
         |    ${d.transform(d.ramp(s"${d.size}(cents_)"), s"ci -> ${TextSim.dist2(d, "embedding", d.at("cents_", "ci"))}")} AS ds
         |  FROM raw),
         |enc AS (
         |  SELECT vec_id, cell, ${qDequant(d, "codes", "mns_", "spans_", s"${d.size}(codes)")} AS dq
         |  FROM (
         |    SELECT vec_id, mns_, spans_,
         |      CAST($pos(ds, ${d.arrayMin}(ds)) AS BIGINT) AS cell,
         |      ${qCodes(d, "embedding", "mns_", "spans_", s"${d.size}(mns_)")} AS codes
         |    FROM base) e0),
         |enc2 AS (SELECT vec_id, cell, dq, ${TextSim.dotHof(d, "dq", "dq")} AS dqn2 FROM enc),
         |npr AS (SELECT greatest(CAST(3 AS BIGINT),
         |          CAST(floor((SELECT cells FROM m) / 4.0) AS BIGINT)) AS np),
         |q AS (SELECT vec_id, embedding, n2,
         |        ${topNCellsExpr(d, "ds", "(SELECT np FROM npr)")} AS probes
         |      FROM base WHERE vec_id % 100 = 0 AND vec_id < 2500),
         |qp AS (SELECT vec_id, embedding, n2, ${d.explode}(probes) AS cell FROM q),
         |scored AS (
         |  SELECT qp.vec_id AS query_id, c.vec_id AS neighbor_id, c.cell AS cell,
         |    ${TextSim.dotHof(d, "qp.embedding", "c.dq")} / (sqrt(qp.n2) * sqrt(c.dqn2)) AS approx_cosine
         |  FROM qp JOIN enc2 c ON c.cell = qp.cell AND c.vec_id <> qp.vec_id),
         |cand AS (
         |  SELECT query_id, neighbor_id, cell, approx_cosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx_cosine DESC, neighbor_id) AS rka
         |  FROM scored),
         |rer AS (
         |  SELECT c.query_id AS query_id, c.neighbor_id AS neighbor_id, c.cell AS cell,
         |    c.approx_cosine AS approx_cosine,
         |    ${TextSim.dot(d, "qe.embedding", "ne.embedding")} / (sqrt(qe.n2) * sqrt(ne.n2)) AS cosine
         |  FROM cand c
         |  JOIN base qe ON qe.vec_id = c.query_id
         |  JOIN base ne ON ne.vec_id = c.neighbor_id
         |  WHERE c.rka <= 10),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cell, approx_cosine, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM rer)
         |SELECT query_id, neighbor_id, cell, approx_cosine, cosine, rnk FROM ranked
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
    })

  /** Shared t77 projection: signature cardinality + an ORDER-EXACT
    * polynomial fingerprint of the sorted shingle array (both engines
    * sort at build — [[shSql]]'s note), so a wrong/missing/stale row
    * breaks the hash, not just the count. */
  private def t77Proj(d: Dialect): String =
    s"doc_id, CAST(${d.size}(shs) AS BIGINT) AS n_sh, " +
      d.foldLong("shs", 7L, s"(h, x) -> (h * 131 + x) % ${TextSim.P}") + " AS sh_fp"

  /** t77 — POINT LOOKUP through the persisted index road (the r18
    * verdict's adoption ask, shipped r19): the takedown-verification /
    * spot-audit primitive, oracle-checked through the FULL lifecycle —
    * ingest → tombstone → compact (which writes the id-sorted,
    * row-group-bounded point-lookup fold layout) →
    * [[graft.operators.SignatureIndex.fetch]] for a deterministic
    * spread of doc_ids. Removed ids must be ABSENT from the fetch (the
    * tombstone → fold → fetch chain); surviving rows are checked by an
    * order-exact fingerprint of the stored shingle array, so a stale or
    * partially-fetched row breaks the hash.
    *
    * Scale: [[graft.operators.SignatureIndex.fetch]] reads ~K row
    * groups — static `dgrp=` partition pruning plus the pushed
    * `In(doc_id)`'s min/max row-group pruning over the sorted fold
    * (×0.08 of the arrival-order bytes at k=1,
    * SCALEBENCH_r18_pointlookup; the production-path re-measure is
    * SCALEBENCH_r19_pointlookup_prod) — never the corpus. The probe-id
    * collect is K-bounded (the same driver budget as t74's candidate
    * set). */
  private val t77 = GQuery(
    fn = (s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      val root = java.nio.file.Files.createTempDirectory("graft_t77").toString
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      graft.operators.SignatureIndex.ingest(s, root, docs, batchKey = Some("b1"))
      // Bounded probe-set collect (r19 verdict #6): ~1.2% of the corpus
      // matches the residue, which is fine at the test SFs but O(corpus)
      // at 100 TB — a spot-audit primitive must refuse an unbounded
      // driver pull loudly instead of OOMing it. limit(cap+1) bounds the
      // job's result; exactly <= cap rows proves the filter's FULL match
      // set was collected (limit only truncates past cap), so the
      // answer is identical whenever the query is legal at all.
      val probeCap = 1000000
      val probeRows = docs.where("doc_id % 83 = 5").select("doc_id")
        .limit(probeCap + 1).collect()
      require(probeRows.length <= probeCap,
        s"t77 probe set exceeds the $probeCap-id driver budget at this " +
          "corpus size — ship the ids as a frame instead of a collect")
      val probeIds = probeRows.map(_.getLong(0)).sorted.toSeq
      graft.operators.SignatureIndex.remove(s, root, probeIds.filter(_ % 2 == 0))
      graft.operators.SignatureIndex.compact(s, root)
      graft.operators.SignatureIndex.fetch(s, root, probeIds)
        .createOrReplaceTempView("t77_f")
      s.sql(s"SELECT ${t77Proj(sprk)} FROM t77_f ORDER BY doc_id")
    },
    oracle = Some {
      val d = duck
      s"""WITH sh AS (${shSql(d)})
         |SELECT ${t77Proj(d)}
         |FROM sh WHERE doc_id % 83 = 5 AND doc_id % 2 <> 0
         |ORDER BY doc_id""".stripMargin
    })

  val all: Map[String, GQuery] = Map(
    "t30_token_stats" -> t30,
    "t31_text_quality" -> t31,
    "t32_lang_id" -> t32,
    "t33_fingerprint" -> t33,
    "t34_exact_dedup" -> t34,
    "t35_ngram_jaccard_dedup" -> t35,
    "t36_minhash_lsh_dedup" -> t36,
    "t37_simhash_dedup" -> t37,
    "t38_ann_cosine_topk" -> t38,
    "t39_lsh_bucket_ann" -> t39,
    "t40_multimodal_meta" -> t40,
    "t41_ivf_ann" -> t41,
    "t42_corpus_curation" -> t42,
    "t43_split_assign" -> t43,
    "t44_dedup_clusters" -> t44,
    "t45_decontaminate" -> t45,
    "t46_repetition" -> t46,
    "t47_source_mix" -> t47,
    "t48_quantized_ann" -> t48,
    "t49_ivf_sq8_ann" -> t49,
    "t50_decontam_removal" -> t50,
    "t51_crossmodal_ann" -> t51,
    "t52_stratified_sample" -> t52,
    "t53_sequence_packing" -> t53,
    "t54_embedding_dedup" -> t54,
    "t55_boilerplate_removal" -> t55,
    "t56_semdedup" -> t56,
    "t57_shuffle_shard" -> t57,
    "t58_temperature_mix" -> t58,
    "t59_bigram_lm" -> t59,
    "t60_pii_redaction" -> t60,
    "t61_tfidf_keywords" -> t61,
    "t62_pq_ann" -> t62,
    "t63_ivf_pq_ann" -> t63,
    "t64_doc_chunking" -> t64,
    "t65_quality_calibration" -> t65,
    "t66_curation_v2" -> t66,
    "t67_incremental_dedup" -> t67,
    "t68_incremental_clusters" -> t68,
    "t69_incremental_cosine" -> t69,
    "t70_refreeze_cosine" -> t70,
    "t71_refreeze_ann" -> t71,
    "t72_takedown_dedup" -> t72,
    "t73_exact_substring_dedup" -> t73,
    "t74_indexed_dedup" -> t74,
    "t75_persisted_topk" -> t75,
    "t76_persisted_pq_topk" -> t76,
    "t77_point_lookup" -> t77)
}
