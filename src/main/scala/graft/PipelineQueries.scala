package graft

import org.apache.spark.sql.functions._
import graft.ops._
import Queries.Q

/** Training-data-pipeline queries over the documents/embeddings tables:
  * dedup, text analysis, similarity search. Every query — including the
  * MinHash/SimHash/SRP sketches — carries a full DuckDB oracle: the hash
  * family ([[graft.functions.TextKernels]]) and the SRP hyperplanes
  * ([[graft.ops.Similarity.rademacherPlanes]]) are deliberately plain
  * integer arithmetic, so the oracle SQL below replays them value-exactly.
  */
object PipelineQueries {

  import Tables._

  /** DuckDB expression mirroring TextOps.normalizeText. */
  private val SqlNorm =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  // ---- DuckDB builders replaying the TextKernels polynomial hash family ----

  private val P = graft.functions.TextKernels.P

  /** (h1, h2) polynomial hash of a string-valued SQL expression: fold the
    * Unicode code points with the seed prepended (DuckDB's list_reduce has
    * no initial-value form). */
  private def sqlPolyHash(col: String, base: Long, seed: Long): String =
    s"""list_reduce(list_prepend($seed::BIGINT,
       |  list_transform(regexp_extract_all($col, '.'), c -> unicode(c)::BIGINT)),
       |  (a, c) -> (a * $base + c) % $P)""".stripMargin

  /** Per-doc n-token shingle rows of the normalized text (q42's builder). */
  private def sqlShingleRows(n: Int): String =
    s"""SELECT doc_id, unnest(list_transform(
       |  range(0, greatest(len(string_split($SqlNorm, ' ')) - $n, 0) + 1),
       |  i -> array_to_string(string_split($SqlNorm, ' ')[i + 1:i + $n], ' '))) AS s
       |FROM documents""".stripMargin

  // ---------------------------------------------------------------- dedup

  /** Exact dedup: hash-groupBy on md5(text); one shuffle over a 16-byte key,
    * never over full document text. */
  private val q40 = Q("q40_dedup_exact",
    (s, d) => Dedup.exactDupGroups(documents(s, d), "doc_id", "text")
      .orderBy(col("text_hash")),
    Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
            FROM documents GROUP BY md5(text) ORDER BY text_hash"""))

  /** Document fingerprints over the normalized text: an md5 canonical
    * digest AND the 62-bit rolling-polynomial hash (single-pass kernel,
    * SQL-replayable — the literal "rolling hash" fingerprint). */
  private val q41 = Q("q41_fingerprint",
    (s, d) => documents(s, d)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"),
        graft.functions.TextFunctions.text_hash62(col("text")).as("fp_roll"))
      .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id, md5($SqlNorm) AS fp,
             (${sqlPolyHash(SqlNorm, 131, 7)} * 2147483648
              + ${sqlPolyHash(SqlNorm, 137, 11)}) AS fp_roll
             FROM documents ORDER BY doc_id"""))

  /** Blocked n-gram Jaccard near-dup pairs: candidates share
    * (lang, length-bucket); quadratic comparison confined to blocks.
    * The oracle replays the UNPRUNED computation: the operator's
    * `maxShingleDf` skew guard (default 500) is deliberately above any
    * block-DF this corpus family produces (max 7 at sf0.1, DF grows with
    * ln(docs) for the synthetic generator) — on a corpus where the cap
    * binds, the operator's documented DF-capped-Jaccard semantics apply
    * and this oracle no longer describes it. */
  private val q42 = Q("q42_ngram_jaccard",
    (s, d) => Dedup.ngramJaccardPairs(documents(s, d), "doc_id", "text",
        Seq(col("lang"), floor(col("n_chars") / 50.0).cast("long")), 3, 0.1)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH s AS (SELECT doc_id, lang, CAST(floor(n_chars / 50.0) AS BIGINT) AS blk,
               list_distinct(list_transform(
                 range(0, greatest(len(string_split($SqlNorm, ' ')) - 3, 0) + 1),
                 i -> array_to_string(string_split($SqlNorm, ' ')[i + 1:i + 3], ' '))) AS sh
             FROM documents)
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                     len(list_distinct(list_cat(a.sh, b.sh))), 6) AS jaccard
             FROM s a JOIN s b ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
             WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                     len(list_distinct(list_cat(a.sh, b.sh))), 6) >= 0.1
             ORDER BY id_a, id_b"""))

  /** MinHash+LSH candidate pairs; the oracle replays the full pipeline
    * (signatures → band keys → bucket prune → pair join → est_sim) in SQL
    * over the same polynomial hash family. */
  private val q43 = Q("q43_minhash_lsh",
    (s, d) => Dedup.minHashLshCandidates(documents(s, d), "doc_id", "text")
      .orderBy(col("id_a"), col("id_b")),
    Some {
      val K = 64; val bands = 16; val rpb = 4; val maxBucket = 200
      import graft.functions.TextKernels.{coefA, coefB}
      val mins = (0 until K).map(j =>
        s"min((${coefA(j)}::BIGINT * h1 + ${coefB(j)}::BIGINT * h2 + $j) % $P) AS s$j")
        .mkString(", ")
      def bandKey(b: Int): String =
        (0 until rpb).foldLeft(s"${97 + b}::BIGINT") { (acc, r) =>
          s"(($acc) * 1000003 + s${b * rpb + r}) % $P"
        }
      val bandList = (0 until bands).map(bandKey).mkString(", ")
      val eqTerms = (0 until K)
        .map(j => s"(CASE WHEN a.s$j = b.s$j THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH sh AS (${sqlShingleRows(3)}),
         |hs AS (SELECT doc_id, ${sqlPolyHash("s", 131, 7)} AS h1,
         |              ${sqlPolyHash("s", 137, 11)} AS h2 FROM sh),
         |sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
         |banded AS (SELECT doc_id, unnest([$bandList]) AS band_key FROM sig),
         |ok AS (SELECT band_key FROM banded GROUP BY band_key
         |       HAVING count(*) > 1 AND count(*) <= $maxBucket),
         |pruned AS (SELECT b.* FROM banded b JOIN ok USING (band_key)),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |          FROM pruned a JOIN pruned b USING (band_key)
         |          WHERE a.doc_id < b.doc_id)
         |SELECT p.id_a, p.id_b, ($eqTerms) / $K.0 AS est_sim
         |FROM pairs p JOIN sig a ON a.doc_id = p.id_a
         |             JOIN sig b ON b.doc_id = p.id_b
         |ORDER BY id_a, id_b""".stripMargin
    })

  /** Shared CTE chain computing the 62-bit simhash per doc as h(id, sh):
    * per-token (h1, h2) polynomial hashes, 62 bit-majority votes, packed. */
  private def sqlSimHashCtes: String = {
    val bitSums = (0 until 62).map { b =>
      val (src, sh) = if (b < 31) ("h1", b) else ("h2", b - 31)
      s"sum(CASE WHEN (($src >> $sh) & 1) = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(", ")
    val pack = (0 until 62)
      .map(b => s"(CASE WHEN b$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END)")
      .mkString(" | ")
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split($SqlNorm, ' ')) AS tok FROM documents),
       |th AS (SELECT doc_id, ${sqlPolyHash("tok", 131, 7)} AS h1,
       |              ${sqlPolyHash("tok", 137, 11)} AS h2 FROM toks),
       |bitsums AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id),
       |h AS (SELECT doc_id AS id, ($pack) AS sh FROM bitsums)""".stripMargin
  }

  /** 62-bit SimHash per document; oracle replays the per-token (h1, h2)
    * hashes and all 62 bit-majority votes in SQL. */
  private val q44 = Q("q44_simhash",
    (s, d) => Dedup.simHash(documents(s, d), "doc_id", "text")
      .orderBy(col("id")),
    Some(s"""WITH $sqlSimHashCtes
             SELECT id, sh AS simhash FROM h ORDER BY id"""))

  // ---------------------------------------------------------------- text analysis

  /** Token counting: whitespace tokens + BPE-ish regex tokens. */
  private val q45 = Q("q45_token_count",
    (s, d) => Layout.spread(documents(s, d), "doc_id")
      .select(col("doc_id"),
        TextOps.wsTokenCount(col("text")).as("ws_tokens"),
        TextOps.bpeishTokenCount(col("text")).as("bpeish_tokens"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS ws_tokens,
            CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER)
              AS bpeish_tokens
            FROM documents ORDER BY doc_id"""))

  /** Quality scoring: length / punctuation ratio / word stats / keep flag.
    * One [[graft.functions.LangQualityStats]] kernel pass supplies every
    * statistic (the composed columns paid 2 regex scans + a length pass);
    * casts pin the original INT output schema, and the oracle replays the
    * regex formulation — parity is spec'd in VectorTextSpec. */
  private val q46 = Q("q46_quality_score",
    (s, d) => {
      val st = graft.functions.TextFunctions.lang_quality_stats(col("text"))
      val chars = st.getField("n_chars").cast("int")
      val words = st.getField("n_ws_tokens").cast("int")
      val punct = st.getField("n_nonalnum").cast("int")
      Layout.spread(documents(s, d), "doc_id")
        .select(col("doc_id"), chars.as("n_chars2"), words.as("n_words"),
          round(punct.cast("double") / chars, 6).as("punct_ratio"),
          round(chars.cast("double") / words, 4).as("avg_word_len"),
          when(words >= 5 && words <= 100000 &&
            punct.cast("double") / chars < 0.3, 1).otherwise(0).as("keep"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars2,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_words,
            round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
              / length(text), 6) AS punct_ratio,
            round(CAST(length(text) AS DOUBLE)
              / len(regexp_split_to_array(trim(text), '\s+')), 4) AS avg_word_len,
            CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) BETWEEN 5 AND 100000
              AND CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
                / length(text) < 0.3
              THEN 1 ELSE 0 END AS keep
            FROM documents ORDER BY doc_id"""))

  /** Language ID: stopword-marker scores + fixed-priority argmax, from the
    * single-pass kernel (was 5 `regexp_extract_all(lower(text), ...)` scans
    * per row); the oracle replays the regex form. */
  private val q47 = Q("q47_lang_id", (s, d) => {
    val st = graft.functions.TextFunctions.lang_quality_stats(col("text"))
    val scores = TextOps.LangMarkers.map { case (lang, _) =>
      lang -> st.getField(lang).cast("int")
    }
    Layout.spread(documents(s, d), "doc_id")
      .select(Seq(col("doc_id")) ++
        scores.map { case (l, c) => c.as(s"score_$l") } :+
        TextOps.langId(scores).as("lang_guess") :+ col("lang"): _*)
      .orderBy(col("doc_id"))
  }, Some {
    val score = Map(
      "en" -> """len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|in|is|that|for|with|was)\b'))""",
      "de" -> """len(regexp_extract_all(lower(text), '\b(?:der|die|das|und|ist|nicht|mit|ein|eine|den)\b'))""",
      "es" -> """len(regexp_extract_all(lower(text), '\b(?:el|la|los|las|es|y|en|que|por|una)\b'))""",
      "fr" -> """len(regexp_extract_all(lower(text), '\b(?:le|la|les|et|est|une|des|dans|pour|que)\b'))""",
      "zh" -> """len(regexp_extract_all(lower(text), '[\x{4e00}-\x{9fff}]'))""")
    val Seq(en, de, es, fr, zh) = Seq("en", "de", "es", "fr", "zh").map(score)
    s"""SELECT doc_id, CAST($en AS INTEGER) AS score_en, CAST($de AS INTEGER) AS score_de,
       CAST($es AS INTEGER) AS score_es, CAST($fr AS INTEGER) AS score_fr,
       CAST($zh AS INTEGER) AS score_zh,
       CASE WHEN text IS NULL THEN NULL
            WHEN $en >= $de AND $en >= $es AND $en >= $fr AND $en >= $zh THEN 'en'
            WHEN $de >= $es AND $de >= $fr AND $de >= $zh THEN 'de'
            WHEN $es >= $fr AND $es >= $zh THEN 'es'
            WHEN $fr >= $zh THEN 'fr'
            ELSE 'zh' END AS lang_guess, lang
       FROM documents ORDER BY doc_id"""
  })

  // ---------------------------------------------------------------- similarity search

  /** Brute-force cosine top-k: query set (vec_id < 20) broadcast against the
    * corpus (vec_id >= 20); exact f64 math on both engines. */
  private val q48 = Q("q48_cosine_topk",
    (s, d) => {
      val emb = embeddings(s, d)
      Similarity.cosineTopK(emb.filter(col("vec_id") < 20),
          emb.filter(col("vec_id") >= 20), "vec_id", "embedding", 5)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    },
    Some("""WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
              CAST(unnest(range(len(embedding))) AS BIGINT) AS i FROM embeddings),
            n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
            dots AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id, sum(a.v * b.v) AS dp
              FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < 20 AND b.vec_id >= 20
              GROUP BY a.vec_id, b.vec_id),
            sims AS (SELECT query_id, cand_id, dp / (na.nrm * nb.nrm) AS sim
              FROM dots JOIN n na ON na.vec_id = query_id JOIN n nb ON nb.vec_id = cand_id),
            ranked AS (SELECT query_id, cand_id, sim, CAST(row_number() OVER
              (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk FROM sims)
            SELECT query_id, cand_id, round(sim, 6) AS cosine_sim, rnk
            FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk"""))

  /** Sign-random-projection LSH buckets: cell statistics. Hyperplanes are
    * the Rademacher (±1) integer-LCG family, so the oracle reproduces every
    * dot product bit-for-bit (explicit left-associated term chains match the
    * kernel's sequential f64 summation order). */
  private val q49 = Q("q49_srp_buckets",
    (s, d) => Similarity.ivfCellStats(embeddings(s, d), "vec_id", "embedding", 8,
        planesOverride = Some(Similarity.rademacherPlanes(8, 64)))
      .orderBy(col("bucket")),
    Some {
      val planes = Similarity.rademacherPlanes(8, 64)
      def dotChain(p: Int): String =
        (0 until 64).map(i => s"(embedding[${i + 1}]::DOUBLE * ${planes(p)(i)})")
          .reduce((acc, t) => s"($acc + $t)")
      val bucket = (0 until 8)
        .map(p => s"(CASE WHEN ${dotChain(p)} > 0 THEN (1::BIGINT << $p) ELSE 0::BIGINT END)")
        .mkString(" | ")
      s"""WITH b AS (SELECT vec_id, ($bucket) AS bucket FROM embeddings)
         |SELECT bucket, count(*) AS n_vectors, min(vec_id) AS min_id,
         |       max(vec_id) AS max_id
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    })

  /** Multimodal plumbing: opaque binary payload + typed metadata (byte
    * length + digest); decode itself is stubbed (see graft.multimodal). */
  private val q50 = Q("q50_binary_metadata",
    (s, d) => documents(s, d)
      .select(col("doc_id"),
        length(col("text").cast("binary")).as("n_bytes"),
        md5(col("text").cast("binary")).as("digest"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
            md5(text) AS digest FROM documents ORDER BY doc_id"""))

  /** Nearest-neighbor label transfer: each query vector (vec_id < 20) takes
    * the label of its top-1 cosine neighbor — the classification consumer of
    * the ANN machinery. */
  private val q51 = Q("q51_nn_label",
    (s, d) => {
      val emb = embeddings(s, d)
      Similarity.cosineTopK(emb.filter(col("vec_id") < 20),
          emb.filter(col("vec_id") >= 20), "vec_id", "embedding", 1)
        .filter(col("rank") === 1)
        .join(broadcast(emb.select(col("vec_id").as("cand_id"), col("label"))), Seq("cand_id"))
        .select(col("query_id"), col("cand_id"), col("label").as("nn_label"))
        .orderBy(col("query_id"))
    },
    Some("""WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
              CAST(unnest(range(len(embedding))) AS BIGINT) AS i FROM embeddings),
            n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
            dots AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id, sum(a.v * b.v) AS dp
              FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < 20 AND b.vec_id >= 20
              GROUP BY a.vec_id, b.vec_id),
            sims AS (SELECT query_id, cand_id, dp / (na.nrm * nb.nrm) AS sim
              FROM dots JOIN n na ON na.vec_id = query_id JOIN n nb ON nb.vec_id = cand_id),
            ranked AS (SELECT query_id, cand_id, CAST(row_number() OVER
              (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk FROM sims)
            SELECT r.query_id, r.cand_id, e.label AS nn_label
            FROM ranked r JOIN embeddings e ON e.vec_id = r.cand_id
            WHERE r.rnk = 1 ORDER BY r.query_id"""))

  /** Shared SQL builders for float-embedding math: explicit left-associated
    * term chains reproduce the codegen kernels' sequential f64 summation
    * bit-for-bit (an aggregated unnest-sum has no guaranteed order). */
  private def sqlDotChain(a: String, b: String): String =
    (0 until 64).map(i => s"($a.embedding[${i + 1}]::DOUBLE * $b.embedding[${i + 1}]::DOUBLE)")
      .reduce((acc, t) => s"($acc + $t)")
  private def sqlL2Chain(a: String, b: String): String =
    (0 until 64).map { i =>
      val d = s"($a.embedding[${i + 1}]::DOUBLE - $b.embedding[${i + 1}]::DOUBLE)"
      s"($d * $d)"
    }.reduce((acc, t) => s"($acc + $t)")
  private def sqlNormChain(a: String): String =
    s"sqrt(${sqlDotChain(a, a)})"

  /** Embedding-cosine near-duplicate pairs: banded SRP LSH candidates
    * (16 planes in 2 bands of 8 — bucket count scales as 2^8 PER BAND while
    * banding restores recall), bucket-size cap dropping degenerate buckets,
    * exact cosine verification of distinct candidate pairs (the vector
    * analogue of q43's text LSH — the near-dup gate a training-data
    * pipeline runs over embedding space). Rademacher planes → oracle
    * replays the packed signature, the band-key bit-slices, the cap, and
    * every verified cosine exactly. */
  private val q52 = Q("q52_embed_neardup",
    (s, d) => Similarity.srpNearPairs(embeddings(s, d), "vec_id", "embedding",
        numPlanes = 16, minCosine = 0.3, dim = 64, bands = 2, maxBucketSize = 200,
        planesOverride = Some(Similarity.rademacherPlanes(16, 64)))
      .orderBy(col("id_a"), col("id_b")),
    Some {
      val planes = Similarity.rademacherPlanes(16, 64)
      def dotChain(p: Int): String =
        (0 until 64).map(i => s"(embedding[${i + 1}]::DOUBLE * ${planes(p)(i)})")
          .reduce((acc, t) => s"($acc + $t)")
      val bucket = (0 until 16)
        .map(p => s"(CASE WHEN ${dotChain(p)} > 0 THEN (1::BIGINT << $p) ELSE 0::BIGINT END)")
        .mkString(" | ")
      s"""WITH b AS (SELECT vec_id, ($bucket) AS bucket FROM embeddings),
         |banded AS (
         |  SELECT vec_id, (bucket & 255) AS band_key FROM b
         |  UNION ALL
         |  SELECT vec_id, (((bucket >> 8) & 255) | 256) AS band_key FROM b),
         |ok AS (SELECT band_key FROM banded GROUP BY band_key
         |       HAVING count(*) > 1 AND count(*) <= 200),
         |pruned AS (SELECT p.* FROM banded p JOIN ok USING (band_key)),
         |pairs AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
         |          FROM pruned a JOIN pruned c USING (band_key)
         |          WHERE a.vec_id < c.vec_id),
         |sims AS (SELECT p.id_a, p.id_b,
         |           round(${sqlDotChain("x", "y")} /
         |             (${sqlNormChain("x")} * ${sqlNormChain("y")}), 6) AS cosine_sim
         |         FROM pairs p JOIN embeddings x ON x.vec_id = p.id_a
         |                      JOIN embeddings y ON y.vec_id = p.id_b)
         |SELECT id_a, id_b, cosine_sim FROM sims
         |WHERE cosine_sim >= 0.3 ORDER BY id_a, id_b""".stripMargin
    })

  /** IVF ANN search: corpus assigned to nearest-centroid cells (squared L2
    * via the codegen kernel), queries probe the 2 nearest cells and rank
    * candidates by exact cosine. Centroids are the 8 lowest corpus ids —
    * deterministic stand-in for a k-means codebook (drop-in replacement at
    * production time), which keeps the full pipeline oracle-checkable. */
  /** The 8-vector deterministic codebook (vec_id 20..27) shared by q53 and
    * q69 — driver-resident by design, k-means ([[Similarity.kmeansCodebook]])
    * is the production drop-in. */
  private def fixedCodebook(emb: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[Double])] =
    emb.filter(col("vec_id") >= 20 && col("vec_id") < 28)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .sortBy(_._1).toSeq

  private val q53 = Q("q53_ivf_ann",
    (s, d) => {
      val emb = embeddings(s, d)
      Similarity.ivfSearch(
          emb.filter(col("vec_id") < 20), emb.filter(col("vec_id") >= 20),
          "vec_id", "embedding", fixedCodebook(emb), nProbe = 2, k = 3)
        .orderBy(col("query_id"), col("rnk"))
    },
    Some {
      s"""WITH cent AS (SELECT vec_id AS cell, embedding
         |              FROM embeddings WHERE vec_id >= 20 AND vec_id < 28),
         |corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
         |queries AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
         |ad AS (SELECT v.vec_id, c.cell, ${sqlL2Chain("v", "c")} AS dist
         |       FROM corpus v CROSS JOIN cent c),
         |assign AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY dist, cell) AS rn FROM ad) WHERE rn = 1),
         |qd AS (SELECT q.vec_id, c.cell, ${sqlL2Chain("q", "c")} AS dist
         |       FROM queries q CROSS JOIN cent c),
         |probe AS (SELECT vec_id AS query_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY dist, cell) AS rn FROM qd) WHERE rn <= 2),
         |cand AS (SELECT DISTINCT p.query_id, a.vec_id AS cand_id
         |         FROM probe p JOIN assign a USING (cell)),
         |sims AS (SELECT cd.query_id, cd.cand_id,
         |           ${sqlDotChain("q", "v")} /
         |             (${sqlNormChain("q")} * ${sqlNormChain("v")}) AS sim
         |         FROM cand cd JOIN queries q ON q.vec_id = cd.query_id
         |                      JOIN corpus v ON v.vec_id = cd.cand_id),
         |ranked AS (SELECT query_id, cand_id, sim, CAST(row_number() OVER
         |  (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk
         |  FROM sims)
         |SELECT query_id, cand_id, round(sim, 6) AS cosine_sim, rnk
         |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
    })

  /** Duplicate-cluster extraction (the keep-list step of corpus dedup):
    * connected components over the q42 near-dup pair graph via distributed
    * min-label propagation; every doc gets the min reachable doc id as its
    * cluster, keep = 1 on the representative. Oracle replays the component
    * labeling with a recursive CTE over the same pair graph. */
  private val q54 = Q("q54_dup_clusters",
    (s, d) => {
      val docs = documents(s, d)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        Seq(col("lang"), floor(col("n_chars") / 50.0).cast("long")), 3, 0.1)
      Dedup.duplicateClusters(docs, "doc_id", pairs)
        .select(col("id").as("doc_id"), col("cluster_id"),
          (col("cluster_id") === col("id")).cast("int").as("keep"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE
             s AS (SELECT doc_id, lang, CAST(floor(n_chars / 50.0) AS BIGINT) AS blk,
               list_distinct(list_transform(
                 range(0, greatest(len(string_split($SqlNorm, ' ')) - 3, 0) + 1),
                 i -> array_to_string(string_split($SqlNorm, ' ')[i + 1:i + 3], ' '))) AS sh
             FROM documents),
             p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM s a JOIN s b ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
               WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                       len(list_distinct(list_cat(a.sh, b.sh))), 6) >= 0.1),
             e AS (SELECT id_a AS src, id_b AS dst FROM p
                   UNION ALL SELECT id_b, id_a FROM p),
             reach AS (
               SELECT doc_id AS id, doc_id AS lbl FROM documents
               UNION
               SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id)
             SELECT id AS doc_id, min(lbl) AS cluster_id,
               CAST(CASE WHEN min(lbl) = id THEN 1 ELSE 0 END AS INTEGER) AS keep
             FROM reach GROUP BY id ORDER BY doc_id"""))

  /** Within-document repetition ratio over word 3-grams — the
    * boilerplate/duplicate-content quality signal corpus filters cut on.
    * Unrounded: both engines evaluate the identical IEEE double expression. */
  private val q55 = Q("q55_repetition",
    (s, d) => Layout.spread(documents(s, d), "doc_id")
      .select(col("doc_id"), TextOps.repetitionRatio(col("text"), 3).as("rep_ratio"))
      .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id,
             1.0 - CAST(len(list_distinct(list_transform(
                 range(0, greatest(len(string_split($SqlNorm, ' ')) - 3, 0) + 1),
                 i -> array_to_string(string_split($SqlNorm, ' ')[i + 1:i + 3], ' ')))) AS DOUBLE)
               / CAST(greatest(len(string_split($SqlNorm, ' ')) - 2, 1) AS DOUBLE) AS rep_ratio
             FROM documents ORDER BY doc_id"""))

  /** SimHash near-dup pairs: pigeonhole chunk blocking (4 chunks for
    * hamming <= 3 — a pair within the bound must agree on a whole chunk,
    * so blocking is exact), bucket cap, exact popcount verify. All integer
    * arithmetic — the oracle replays chunking and distance bit-for-bit. */
  private val q56 = Q("q56_simhash_neardup",
    (s, d) => Dedup.simHashNearPairs(documents(s, d), "doc_id", "text",
        maxHamming = 3, maxBucketSize = 1000)
      .orderBy(col("id_a"), col("id_b")),
    Some {
      // replay the engine's chunking bit-for-bit: (lo, bits) come from the
      // same Dedup.chunkRanges the operator uses (floor/ceil widths 16/16/15/15
      // for 4 chunks), NOT a hardcoded uniform split — a saturated bucket
      // would otherwise diverge on the chunks where the widths differ
      val banded = Dedup.chunkRanges(4).zipWithIndex.map { case ((lo, bits), c) =>
        s"SELECT id, $c AS c, (sh >> $lo) & ${(1L << bits) - 1} AS v FROM h"
      }.mkString("\n  UNION ALL ")
      s"""WITH $sqlSimHashCtes,
         |banded AS (
         |  $banded),
         |ok AS (SELECT c, v FROM banded GROUP BY c, v
         |       HAVING count(*) > 1 AND count(*) <= 1000),
         |pruned AS (SELECT b.* FROM banded b JOIN ok USING (c, v)),
         |pairs AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b
         |          FROM pruned a JOIN pruned b2 USING (c, v)
         |          WHERE a.id < b2.id)
         |SELECT p.id_a, p.id_b,
         |       CAST(bit_count(xor(x.sh, y.sh)) AS INTEGER) AS hamming
         |FROM pairs p JOIN h x ON x.id = p.id_a JOIN h y ON y.id = p.id_b
         |WHERE bit_count(xor(x.sh, y.sh)) <= 3 ORDER BY id_a, id_b""".stripMargin
    })

  /** Context-window chunking: 64-token windows with spans + chunk text —
    * the sequence-splitting step before tokenization/packing. */
  private val q57 = Q("q57_chunking",
    (s, d) => TextOps.chunkSpans(
        Layout.spread(documents(s, d), "doc_id"), "doc_id", "text", 64)
      .orderBy(col("doc_id"), col("chunk_idx")),
    Some("""WITH t AS (SELECT doc_id,
              regexp_split_to_array(trim(text), '\s+') AS toks,
              CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
            FROM documents),
            c AS (SELECT doc_id, toks, n,
              unnest(range(0, (n - 1) // 64 + 1)) AS chunk_idx FROM t)
            SELECT doc_id, chunk_idx, chunk_idx * 64 AS tok_start,
              least((chunk_idx + 1) * 64, n) AS tok_end,
              array_to_string(toks[chunk_idx * 64 + 1 : chunk_idx * 64 + 64], ' ')
                AS chunk_text
            FROM c ORDER BY doc_id, chunk_idx"""))

  /** Deterministic stratified sampling: per-language keep rates via an
    * integer-LCG draw over the doc id — the corpus-mixing downsampling
    * step, exactly replayed by the oracle. */
  private val q58 = Q("q58_stratified_sample",
    (s, d) => TextOps.stratifiedSample(documents(s, d), "doc_id", "lang",
        Map("en" -> 50, "de" -> 30), defaultPct = 10)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, lang FROM documents
            WHERE (((((doc_id % 2147483648) * 1103515245 + 12345)
                     % 2147483648) // 65536) % 100) <
              CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 30 ELSE 10 END
            ORDER BY doc_id"""))

  /** Benchmark decontamination: docs sharing a 4-token shingle with the
    * held-out set (doc_id % 97 — an eval-suite stand-in). The corpus side
    * never shuffles; the benchmark shingle-hash set broadcasts. Overlap is
    * counted over 62-bit hashes; the oracle counts the shingle strings —
    * identical absent kernel-hash collisions (q42's argument). Real
    * pipelines use n ≈ 8–13; n = 4 here because the synthetic 30-word
    * vocabulary makes longer exact shingles vanishingly rare. */
  private val q59 = Q("q59_decontaminate",
    (s, d) => {
      val docs = documents(s, d)
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 4, minOverlap = 1)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH s AS (SELECT doc_id, list_distinct(list_transform(
               range(0, greatest(len(string_split($SqlNorm, ' ')) - 4, 0) + 1),
               i -> array_to_string(string_split($SqlNorm, ' ')[i + 1:i + 4], ' '))) AS sh
             FROM documents),
             bh AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 97 = 0),
             ch AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 97 <> 0)
             SELECT ch.doc_id, count(*) AS n_overlap FROM ch JOIN bh USING (g)
             GROUP BY ch.doc_id ORDER BY doc_id"""))

  /** Corpus-wide duplicated-segment removal (CCNet/RefinedWeb line dedup,
    * with 8-token windows standing in for lines — this corpus has no
    * newlines): segments occurring >= 2 times anywhere in the corpus are
    * dropped, documents reassembled from what's left. */
  private val q60 = Q("q60_segment_dedup",
    (s, d) => Dedup.dedupSegments(
        TextOps.chunkSpans(Layout.spread(documents(s, d), "doc_id"),
            "doc_id", "text", 8)
          .select(col("doc_id"), col("chunk_idx"), col("chunk_text")),
        "doc_id", "chunk_idx", "chunk_text", minDupCount = 2)
      .orderBy(col("doc_id")),
    Some("""WITH t AS (SELECT doc_id,
              regexp_split_to_array(trim(text), '\s+') AS toks,
              CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
            FROM documents),
            c AS (SELECT doc_id, unnest(range(0, (n - 1) // 8 + 1)) AS ci, toks, n FROM t),
            seg AS (SELECT doc_id, ci,
              array_to_string(toks[ci * 8 + 1 : ci * 8 + 8], ' ') AS s FROM c),
            k AS (SELECT doc_id, ci, s, count(*) OVER (PARTITION BY s) AS dup FROM seg)
            SELECT doc_id,
              string_agg(CASE WHEN dup < 2 THEN s END, ' ' ORDER BY ci) AS clean_text,
              CAST(sum(CASE WHEN dup < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              CAST(sum(CASE WHEN dup < 2 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
            FROM k GROUP BY doc_id
            HAVING sum(CASE WHEN dup < 2 THEN 1 ELSE 0 END) > 0
            ORDER BY doc_id"""))

  /** Concatenation packing of 16-token chunks into 256-token training
    * sequences across 32 deterministic pack groups — the batch-shaping step
    * between chunking and tokenization. The oracle replays the running-fill
    * window exactly (all integer arithmetic). */
  private val q61 = Q("q61_pack_sequences",
    (s, d) => TextOps.packSequences(
        TextOps.chunkSpans(Layout.spread(documents(s, d), "doc_id"),
          "doc_id", "text", 16),
        capacity = 256, numGroups = 32)
      .orderBy(col("pack_group"), col("doc_id"), col("chunk_idx")),
    Some("""WITH t AS (SELECT doc_id,
              regexp_split_to_array(trim(text), '\s+') AS toks,
              CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
            FROM documents),
            c AS (SELECT doc_id, unnest(range(0, (n - 1) // 16 + 1)) AS chunk_idx, n FROM t),
            seg AS (SELECT doc_id, chunk_idx,
              least((chunk_idx + 1) * 16, n) - chunk_idx * 16 AS ntok,
              doc_id % 32 AS pack_group FROM c),
            p AS (SELECT pack_group, doc_id, chunk_idx, ntok,
              CAST(sum(ntok) OVER (PARTITION BY pack_group
                ORDER BY doc_id, chunk_idx) AS BIGINT) AS cum FROM seg)
            SELECT pack_group, (cum - ntok) // 256 AS seq_id, doc_id, chunk_idx, ntok
            FROM p ORDER BY pack_group, doc_id, chunk_idx"""))

  /** PII scrubbing: emails, IPv4s, phone numbers → typed placeholders, with
    * the substitution count. Single-pass codegen kernel
    * ([[graft.functions.RedactPii]]): one struct-valued expression computes
    * the redacted text AND the count in 3 regex scans per row — the composed
    * column form ([[TextOps.redactPii]] + piiCount) pays 9. Semantics are
    * bit-identical (same sequential java.util.regex chain), so the oracle is
    * unchanged; the regex family is valid in both Java regex and RE2, so
    * DuckDB replays the exact redaction chain. (This corpus plants no PII —
    * the operator's match semantics are exercised in VectorTextSpec; here
    * both engines must agree the text is clean.) */
  private val q62 = Q("q62_pii_redact",
    (s, d) => {
      val r = graft.functions.TextFunctions.redact_pii(col("text"))
      documents(s, d)
        .select(col("doc_id"), r.getField("clean_text").as("clean_text"),
          r.getField("n_pii").as("n_pii"))
        .orderBy(col("doc_id"))
    },
    Some {
      val Seq(em, ip, ph) = TextOps.PiiPatterns.map(_._2)
      s"""WITH r1 AS (SELECT doc_id, text,
           regexp_replace(text, '$em', '<email>', 'g') AS t1 FROM documents),
         r2 AS (SELECT doc_id, text, t1,
           regexp_replace(t1, '$ip', '<ipv4>', 'g') AS t2 FROM r1)
         SELECT doc_id, regexp_replace(t2, '$ph', '<phone>', 'g') AS clean_text,
           CAST(len(regexp_extract_all(text, '$em'))
              + len(regexp_extract_all(t1, '$ip'))
              + len(regexp_extract_all(t2, '$ph')) AS BIGINT) AS n_pii
         FROM r2 ORDER BY doc_id"""
    })

  /** As-of join: every purchase event picks up the user's most recent
    * click at-or-before it (latest attribution — the classic event-ledger
    * lookup). Union + running-window form: ONE shuffle on the user key, no
    * join operator at all; the oracle replays the identical merge-order
    * window. Left-outer: purchases with no prior click keep NULL click
    * columns. click_value passes through unrounded — both engines read the
    * same parquet double and never transform it. */
  private val q63 = Q("q63_asof_join",
    (s, d) => {
      val ev = events(s, d)
      TimeJoins.asofJoin(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          Seq("user_id"), "ts", "event_id", Seq("value"))
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("r_id").as("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("r_ts"))).as("gap_us"),
          col("value").as("click_value"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""WITH u AS (
              SELECT user_id, ts, event_id, 0 AS side,
                struct_pack(r_ts := ts, r_id := event_id, r_value := value) AS r
              FROM events WHERE event_type = 'click'
              UNION ALL
              SELECT user_id, ts, event_id, 1, NULL
              FROM events WHERE event_type = 'purchase'),
            m AS (SELECT user_id, ts, event_id, side,
              -- ONE last_value over the whole struct: the matched click row
              -- is picked atomically, exactly as the engine's last(__r).
              -- Per-column last_value(... IGNORE NULLS) would TEAR the row
              -- when a click carries a NULL value (skipping back to an older
              -- click's value under the current click's id)
              last_value(r IGNORE NULLS) OVER w AS r
              FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            SELECT user_id, event_id,
              strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
              r.r_id AS click_id, epoch_us(ts) - epoch_us(r.r_ts) AS gap_us,
              r.r_value AS click_value
            FROM m WHERE side = 1 ORDER BY user_id, event_id"""))

  /** Bounded-gap interval self-pairs: same-user event pairs within 30
    * minutes. Time-bucket blocking (bin + next-bin explode) confines the
    * quadratic term to same-(user, bin) groups; the oracle is the plain
    * inequality self-join the blocking provably equals. Gap compared in
    * exact integer microseconds. */
  private val q64 = Q("q64_interval_pairs",
    (s, d) => TimeJoins.intervalPairs(events(s, d), Seq("user_id"), "ts",
        "event_id", maxGapSec = 1800L)
      .orderBy(col("user_id"), col("id_a"), col("id_b")),
    Some("""SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
              epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
            FROM events a JOIN events b
              ON a.user_id = b.user_id
              AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
              AND epoch_us(b.ts) - epoch_us(a.ts) <= 1800000000
            ORDER BY a.user_id, id_a, id_b"""))

  /** TF-IDF keyword extraction: top-3 terms per document. Linear inverse
    * frequency (n_docs/df, not log-damped) so every score is
    * correctly-rounded IEEE arithmetic both engines replay bit-for-bit
    * (Terms.tfIdfTopTerms doc) — scores ship unrounded. */
  private val q65 = Q("q65_tfidf_topterms",
    (s, d) => Terms.tfIdfTopTerms(documents(s, d), "doc_id", "text", 3)
      .orderBy(col("doc_id"), col("rnk")),
    Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split($SqlNorm, ' ')) AS term
               FROM documents),
             tf AS (SELECT doc_id, term, count(*) AS tf
               FROM tok WHERE term <> '' GROUP BY doc_id, term),
             dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
             scored AS (SELECT tf.doc_id, tf.term,
                 CAST(tf.tf AS BIGINT) AS tf, CAST(dfq.df AS BIGINT) AS df,
                 tf.tf::DOUBLE * n.n_docs::DOUBLE / dfq.df AS tf_idf
               FROM tf JOIN dfq USING (term) CROSS JOIN n),
             r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY tf_idf DESC, term) AS BIGINT) AS rnk FROM scored)
             SELECT doc_id, term, tf, df, tf_idf, rnk FROM r
             WHERE rnk <= 3 ORDER BY doc_id, rnk"""))

  /** Corpus vocabulary: top-100 terms by total occurrences (the
    * frequency-vocab step before tokenizer training). Aggregation + global
    * TakeOrderedAndProject — no full sort. */
  private val q66 = Q("q66_vocab_topk",
    (s, d) => Terms.vocabulary(documents(s, d), "doc_id", "text", 100),
    Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split($SqlNorm, ' ')) AS term
               FROM documents),
             tf AS (SELECT doc_id, term, count(*) AS tf
               FROM tok WHERE term <> '' GROUP BY doc_id, term)
             SELECT term, CAST(sum(tf) AS BIGINT) AS n_occurrences,
               CAST(count(*) AS BIGINT) AS n_docs
             FROM tf GROUP BY term
             ORDER BY n_occurrences DESC, term LIMIT 100"""))

  /** Symmetric int8 scalar quantization of the embedding column — the 4×
    * compression an ANN store applies before writing vectors. Codes are
    * floor(x/scale + 0.5) clamped to ±127: floor (not round) keeps every
    * engine bit-identical (VectorOps.quantizeInt8 doc). All outputs are
    * exact integer sums / order-insensitive maxima of IEEE-exact terms —
    * nothing is rounded. */
  private val q67 = Q("q67_quantize_int8",
    (s, d) => embeddings(s, d)
      .withColumn("scale", VectorOps.int8Scale(col("embedding")))
      .withColumn("codes", VectorOps.quantizeInt8(col("embedding"), col("scale")))
      .select(col("vec_id"), col("scale"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("sum_code"),
        size(filter(col("codes"), c => abs(c) === 127)).as("n_saturated"),
        VectorOps.dequantMaxErr(col("embedding"), col("codes"), col("scale"))
          .as("max_err"))
      .orderBy(col("vec_id")),
    Some("""WITH m AS (SELECT vec_id, embedding,
              list_reduce(list_prepend(0.0,
                list_transform(embedding, x -> abs(x::DOUBLE))),
                (a, x) -> greatest(a, x)) / 127.0 AS scale
              FROM embeddings),
            q AS (SELECT vec_id, scale, embedding,
              list_transform(embedding, x -> CASE WHEN scale = 0.0 THEN 0
                ELSE CAST(greatest(-127.0, least(127.0,
                  floor(x::DOUBLE / scale + 0.5))) AS INTEGER) END) AS codes
              FROM m),
            u AS (SELECT vec_id, scale, unnest(embedding) AS x, unnest(codes) AS qc
              FROM q)
            SELECT vec_id, scale, CAST(sum(qc) AS BIGINT) AS sum_code,
              CAST(sum(CASE WHEN abs(qc) = 127 THEN 1 ELSE 0 END) AS INTEGER)
                AS n_saturated,
              max(abs(x::DOUBLE - qc::DOUBLE * scale)) AS max_err
            FROM u GROUP BY vec_id, scale ORDER BY vec_id"""))

  /** Corpus mixture planning: per-source token counts, target mixture
    * weights, and the keep-rate a downsampler must apply to hit a 1M-token
    * budget. Literal weights are ::DOUBLE on the oracle side (DuckDB parses
    * bare decimals as DECIMAL, whose arithmetic would diverge from Spark's
    * doubles); every derived value is IEEE-exact and ships unrounded. */
  private val q68 = Q("q68_mixture_plan",
    (s, d) => Terms.mixturePlan(documents(s, d), "source",
        TextOps.wsTokenCount(col("text")).cast("long"),
        Map("src0" -> 0.2, "src1" -> 0.1), defaultWeight = 0.035,
        budgetTokens = 1000000L)
      .orderBy(col("stratum")),
    Some("""WITH t AS (SELECT source AS stratum,
              CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
                AS tokens
              FROM documents GROUP BY source),
            w AS (SELECT stratum, tokens,
              CASE WHEN stratum = 'src0' THEN 0.2::DOUBLE
                   WHEN stratum = 'src1' THEN 0.1::DOUBLE
                   ELSE 0.035::DOUBLE END AS weight
              FROM t),
            p AS (SELECT stratum, tokens, weight,
              weight * 1000000 AS target_tokens,
              least(1.0::DOUBLE, coalesce((weight * 1000000) /
                nullif(tokens::DOUBLE, 0.0), 1.0::DOUBLE)) AS keep_rate
              FROM w)
            SELECT stratum, tokens, weight, target_tokens, keep_rate,
              keep_rate * tokens::DOUBLE AS expected_tokens
            FROM p ORDER BY stratum"""))

  /** SemDeDup-style semantic dedup keep-list: vectors assigned to nearest
    * deterministic centroid cells, within-cell pairs kept at cosine >= 0.4,
    * connected components labeled, keep = 1 on each cluster representative.
    * (Production threshold is ~0.95; this synthetic corpus has no true
    * semantic duplicates, so 0.4 exercises the full machinery.) The oracle
    * replays assignment, pair generation, and the component labeling
    * (recursive CTE, as q54). */
  private val q69 = Q("q69_semantic_dedup",
    (s, d) => {
      val emb = embeddings(s, d)
      val pairs = Similarity.semanticNearPairs(emb, "vec_id", "embedding",
        fixedCodebook(emb), minCosine = 0.4)
      Dedup.duplicateClusters(emb.select(col("vec_id")), "vec_id", pairs)
        .select(col("id").as("vec_id"), col("cluster_id"),
          (col("cluster_id") === col("id")).cast("int").as("keep"))
        .orderBy(col("vec_id"))
    },
    Some {
      s"""WITH RECURSIVE
         |cent AS (SELECT vec_id AS cell, embedding
         |         FROM embeddings WHERE vec_id >= 20 AND vec_id < 28),
         |ad AS (SELECT v.vec_id, c.cell, ${sqlL2Chain("v", "c")} AS dist
         |       FROM embeddings v CROSS JOIN cent c),
         |assign AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY dist, cell) AS rn FROM ad) WHERE rn = 1),
         |j AS (SELECT s.vec_id, s.cell, e.embedding
         |      FROM assign s JOIN embeddings e USING (vec_id)),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |      FROM j a JOIN j b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |      WHERE round(${sqlDotChain("a", "b")} /
         |              (${sqlNormChain("a")} * ${sqlNormChain("b")}), 6) >= 0.4),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION ALL SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT vec_id AS id, vec_id AS lbl FROM embeddings
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id)
         |SELECT id AS vec_id, min(lbl) AS cluster_id,
         |  CAST(CASE WHEN min(lbl) = id THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin
    })

  /** Corpus-wide adjacent-token-pair counts — the inner step of BPE-style
    * tokenizer training (each merge round picks the most frequent adjacent
    * pair). Narrow zip pass per doc + hash agg + TakeOrderedAndProject. */
  private val q70 = Q("q70_bpe_pairs",
    (s, d) => Terms.bpePairCounts(documents(s, d), "doc_id", "text", 50),
    Some(s"""WITH tok AS (SELECT doc_id, string_split($SqlNorm, ' ') AS t
               FROM documents),
             p AS (SELECT unnest(list_transform(range(0, greatest(len(t) - 1, 0)),
                 i -> t[i + 1] || ' ' || t[i + 2])) AS pair FROM tok)
             SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM p
             GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50"""))

  /** Fixed-width value histogram per event type — the distribution profile
    * collected before choosing filter thresholds. Bin = floor(value/width):
    * exact IEEE floor, no rounding knife edges. */
  private val q71 = Q("q71_histogram",
    (s, d) => Relational.histogram(events(s, d), Seq(col("event_type")),
        col("value"), 5.0)
      .orderBy(col("event_type"), col("bin")),
    Some("""SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bin,
              count(*) AS cnt
            FROM events GROUP BY event_type, bin ORDER BY event_type, bin"""))

  /** Trailing 3-event moving average per user. Explicit lag chain (NOT a
    * sliding window frame): the association order is fixed in the
    * expression, so both engines compute bit-identical IEEE sums —
    * a frame-based avg would be engine-dependent (Spark re-aggregates
    * frames in row order, DuckDB uses a segment tree). */
  private val q72 = Q("q72_moving_avg",
    (s, d) => Relational.movingAvg(events(s, d), Seq(col("user_id")),
        Seq(col("ts"), col("event_id")), col("value"), 3)
      .select(col("user_id"), col("event_id"), col("moving_avg"))
      .orderBy(col("user_id"), col("event_id")),
    Some("""WITH m AS (SELECT user_id, event_id,
              ((value + coalesce(lag(value, 1) OVER w, 0.0))
                 + coalesce(lag(value, 2) OVER w, 0.0))
                / CAST(least(row_number() OVER w, 3) AS DOUBLE) AS moving_avg
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT user_id, event_id, moving_avg FROM m
            ORDER BY user_id, event_id"""))

  /** Salted fact-fact join: the skew-spreading strategy declared as an
    * oracle-checked query — the salt spreads every (potentially hot) order
    * key over 8 sub-keys and MUST leave the join result identical to the
    * plain equi-join the oracle runs. Aggregated to priority-level revenue
    * (q20's rounding style). */
  private val q73 = Q("q73_salted_join",
    (s, d) => ScaleJoins.saltedJoin(lineitem(s, d),
        orders(s, d).select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
        "l_orderkey", saltFactor = 8,
        // within an order, line number discriminates rows — 2 narrow ints
        // hashed instead of the 16-column row (see saltedJoin scaladoc)
        saltCols = Seq("l_orderkey", "l_linenumber"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("o_orderpriority")),
    Some("""SELECT o_orderpriority, count(*) AS n_items,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Bigram-LM fluency score per document: mean corpus conditional
    * probability P(w2|w1) over the doc's bigram instances — linear
    * probability, not log-space, for cross-engine exactness (the ln/libm
    * trade Terms.bigramCondProb and tfIdfTopTerms document). Docs with
    * < 2 tokens have no bigrams and are absent (inner semantics on both
    * sides). */
  private val q78 = Q("q78_bigram_score",
    (s, d) => Terms.bigramCondProb(documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some(s"""WITH tok AS (SELECT doc_id, string_split($SqlNorm, ' ') AS t
               FROM documents),
             bg AS (SELECT doc_id,
               unnest(list_transform(range(0, greatest(len(t) - 1, 0)),
                 i -> t[i + 1])) AS w1,
               unnest(list_transform(range(0, greatest(len(t) - 1, 0)),
                 i -> t[i + 2])) AS w2
               FROM tok),
             c AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
             p AS (SELECT w1, w2, c2::DOUBLE /
                 (sum(c2) OVER (PARTITION BY w1))::DOUBLE AS cond_p FROM c)
             SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(cond_p), 6) AS avg_cond_p
             FROM bg JOIN p USING (w1, w2)
             GROUP BY doc_id ORDER BY doc_id"""))

  /** Per-label embedding centroids (class prototypes): elementwise mean
    * via the map-side-partial VectorSum aggregator — the exchange carries
    * one 64-double buffer per (label, partition), never corpus vectors.
    * The query flattens the centroid to (label, dim_idx, c_val) rows for
    * the dump; the operator itself returns the ARRAY<DOUBLE>. */
  private val q79 = Q("q79_label_centroids",
    (s, d) => Similarity.groupCentroids(embeddings(s, d), "label", "embedding", 64)
      .select(col("label").cast("long").as("label"), col("n_vecs"),
        posexplode(col("centroid")))
      .select(col("label"), col("n_vecs"), col("pos").cast("long").as("dim_idx"),
        round(col("col"), 6).as("c_val"))
      .orderBy(col("label"), col("dim_idx")),
    Some("""WITH u AS (SELECT label, vec_id, unnest(embedding) AS x,
              generate_subscripts(embedding, 1) - 1 AS dim_idx
              FROM embeddings)
            SELECT CAST(label AS BIGINT) AS label,
              CAST(count(*) AS BIGINT) AS n_vecs,
              CAST(dim_idx AS BIGINT) AS dim_idx,
              round(avg(x::DOUBLE), 6) AS c_val
            FROM u GROUP BY label, dim_idx ORDER BY label, dim_idx"""))

  /** End-to-end corpus curation (CorpusPipeline): quality → lang →
    * exact dedup → near-dup clusters → decontamination → stratified
    * sampling, labeling every doc with the first stage that dropped it.
    * The oracle replays the ENTIRE pipeline — each stage's SQL fragment is
    * the one its standalone query (q46/q47/q40/q54/q59/q58) already
    * verifies, chained over the same shrinking survivor sets. Benchmark
    * stand-in: doc_id % 97 = 0 (as q59). */
  private val q80 = Q("q80_curation_funnel",
    (s, d) => {
      val docs = documents(s, d)
      val labeled = CorpusPipeline.curate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text",
        CorpusPipeline.Config(
          allowedLangs = Seq("en"),
          blockCols = Seq(col("lang"), floor(col("n_chars") / 50.0).cast("long")),
          shingleLen = 3, minJaccard = 0.1,
          decontamN = 4, minOverlap = 1,
          strataCol = "source", ratesPct = Map("src0" -> 50), defaultPct = 90))
      labeled.select(col("doc_id"), col("lang_guess"), col("drop_stage"))
        .orderBy(col("doc_id"))
    },
    Some {
      val score = Map(
        "en" -> """len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|in|is|that|for|with|was)\b'))""",
        "de" -> """len(regexp_extract_all(lower(text), '\b(?:der|die|das|und|ist|nicht|mit|ein|eine|den)\b'))""",
        "es" -> """len(regexp_extract_all(lower(text), '\b(?:el|la|los|las|es|y|en|que|por|una)\b'))""",
        "fr" -> """len(regexp_extract_all(lower(text), '\b(?:le|la|les|et|est|une|des|dans|pour|que)\b'))""",
        "zh" -> """len(regexp_extract_all(lower(text), '[\x{4e00}-\x{9fff}]'))""")
      val Seq(en, de, es, fr, zh) = Seq("en", "de", "es", "fr", "zh").map(score)
      def shingles(n: Int) =
        s"""list_distinct(list_transform(
           |  range(0, greatest(len(string_split($SqlNorm, ' ')) - $n, 0) + 1),
           |  i -> array_to_string(string_split($SqlNorm, ' ')[i + 1:i + $n], ' ')))""".stripMargin
      s"""WITH RECURSIVE
         |corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
         |fl AS (SELECT doc_id, lang, source, n_chars, text,
         |  coalesce(len(regexp_split_to_array(trim(text), '\\s+')) BETWEEN 5 AND 100000
         |    AND CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
         |      / length(text) < 0.3, false) AS q_ok,
         |  CASE WHEN text IS NULL THEN NULL
         |       WHEN $en >= $de AND $en >= $es AND $en >= $fr AND $en >= $zh THEN 'en'
         |       WHEN $de >= $es AND $de >= $fr AND $de >= $zh THEN 'de'
         |       WHEN $es >= $fr AND $es >= $zh THEN 'es'
         |       WHEN $fr >= $zh THEN 'fr'
         |       ELSE 'zh' END AS lang_guess
         |  FROM corpus),
         |base AS (SELECT * FROM fl WHERE q_ok AND lang_guess IN ('en')),
         |ex AS (SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS e_ok
         |  FROM base),
         |be AS (SELECT base.* FROM base JOIN ex USING (doc_id) WHERE e_ok),
         |s3 AS (SELECT doc_id, lang, CAST(floor(n_chars / 50.0) AS BIGINT) AS blk,
         |    ${shingles(3)} AS sh
         |  FROM be),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM s3 a JOIN s3 b ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
         |  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |          len(list_distinct(list_cat(a.sh, b.sh))), 6) >= 0.1),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION ALL SELECT id_b, id_a FROM p),
         |reach AS (SELECT doc_id AS id, doc_id AS lbl FROM be
         |          UNION
         |          SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id),
         |nf AS (SELECT id AS doc_id, min(lbl) = id AS n_ok FROM reach GROUP BY id),
         |bn AS (SELECT be.* FROM be JOIN nf USING (doc_id) WHERE n_ok),
         |bh AS (SELECT DISTINCT unnest(${shingles(4)}) AS g
         |  FROM documents WHERE doc_id % 97 = 0),
         |cont AS (SELECT DISTINCT t.doc_id
         |  FROM (SELECT doc_id, unnest(${shingles(4)}) AS g FROM bn) t
         |  JOIN bh USING (g))
         |SELECT fl.doc_id, fl.lang_guess,
         |  CASE WHEN NOT fl.q_ok THEN 'quality'
         |       WHEN fl.lang_guess IS NULL OR fl.lang_guess NOT IN ('en') THEN 'lang'
         |       WHEN ex.e_ok = false THEN 'exact_dup'
         |       WHEN nf.n_ok = false THEN 'near_dup'
         |       WHEN cont.doc_id IS NOT NULL THEN 'contaminated'
         |       WHEN NOT ((((((fl.doc_id % 2147483648) * 1103515245 + 12345)
         |                    % 2147483648) // 65536) % 100) <
         |         CASE WHEN fl.source = 'src0' THEN 50 ELSE 90 END) THEN 'sampled'
         |       END AS drop_stage
         |FROM fl LEFT JOIN ex USING (doc_id) LEFT JOIN nf USING (doc_id)
         |        LEFT JOIN cont ON cont.doc_id = fl.doc_id
         |ORDER BY fl.doc_id""".stripMargin
    })

  /** Conjunctive term search (see Terms.searchDocs): docs containing all
    * three query terms; a pure narrow scan (single-pass normalize kernel +
    * k array_contains probes) — no explode, no exchange. */
  private val q89 = Q("q89_term_search",
    (s, d) => Terms.searchDocs(documents(s, d), "doc_id", "text",
        Seq("vector", "join", "filter"))
      .orderBy(col("doc_id")),
    Some(s"""WITH t AS (SELECT doc_id,
               unnest(list_distinct(string_split($SqlNorm, ' '))) AS term
               FROM documents)
             SELECT doc_id FROM t WHERE term IN ('vector', 'join', 'filter')
             GROUP BY doc_id HAVING count(*) = 3 ORDER BY doc_id"""))

  /** PPS document sampling (see TextOps.ppsSampleDocs): expected 100 docs
    * drawn with probability ∝ whitespace token count; every draw and the
    * all-integer ppm rate replay exactly in SQL. */
  private val q90 = Q("q90_pps_sample",
    (s, d) => TextOps.ppsSampleDocs(documents(s, d), "doc_id",
        TextOps.wsTokenCount(col("text")), targetDocs = 100L)
      .select(col("doc_id"))
      .orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id,
              CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS w
              FROM documents),
            tot AS (SELECT sum(w) AS tot FROM w)
            SELECT doc_id FROM w, tot
            WHERE w IS NOT NULL
              AND ((((doc_id % 2147483648) * 1103515245 + 12345)
                     % 2147483648) // 32) % 1000000
                  < least(1000000, (100000000 * w) // tot)
            ORDER BY doc_id"""))

  /** Embedding hygiene audit: vector count per (dimension, squared-norm
    * bin) — the shape/scale profile checked before any ANN or dedup run
    * (mixed dims or a mass of near-zero vectors mean a broken embedding
    * job). Floor-binning a DOUBLE is exact here because both engines
    * compute the identical f64: the codegen kernel sums squares
    * sequentially and the oracle's list_reduce left-fold replays that
    * association order bit-for-bit (same argument as the q49 SRP dots). */
  private val q101 = Q("q101_embed_audit",
    (s, d) => embeddings(s, d)
      .select(size(col("embedding")).cast("long").as("dim"),
        floor(VectorOps.normSq(col("embedding")) / 10.0).cast("long").as("sq_norm_bin"))
      .groupBy(col("dim"), col("sq_norm_bin"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("dim"), col("sq_norm_bin")),
    Some("""SELECT CAST(len(embedding) AS BIGINT) AS dim,
              CAST(floor(list_reduce(
                list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                (a, b) -> a + b) / 10.0) AS BIGINT) AS sq_norm_bin,
              count(*) AS n_vectors
            FROM embeddings GROUP BY 1, 2 ORDER BY dim, sq_norm_bin"""))

  /** Dense re-index via the zipWithIndex scale variant (see
    * Relational.denseReindexHuge): range-partitioned sort + per-partition
    * offsets instead of the window form's single-partition row_number —
    * the >10^8-id dimension path, oracle-checked equal to the rank
    * semantics. */
  private val q102 = Q("q102_reindex_huge",
    (s, d) => Relational.denseReindexHuge(documents(s, d), "doc_id", "idx", 8)
      .orderBy(col("doc_id")),
    Some("""WITH ids AS (SELECT DISTINCT doc_id FROM documents)
            SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
            FROM ids ORDER BY doc_id"""))

  /** Dedup survivors: the stage AFTER q54's clustering — per duplicate
    * cluster keep the best copy (max n_chars, ties to the smallest id),
    * not the min-id one. Oracle replays the clustering CTE then picks the
    * representative with a per-cluster window; the Spark side is a plain
    * max(struct) aggregation — no window over the corpus. */
  private val q103 = Q("q103_cluster_survivors",
    (s, d) => {
      val docs = documents(s, d)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        Seq(col("lang"), floor(col("n_chars") / 50.0).cast("long")), 3, 0.1)
      val labels = Dedup.duplicateClusters(docs, "doc_id", pairs)
      Dedup.clusterRepresentatives(docs, "doc_id", labels,
          col("n_chars").cast("long"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE
             s AS (SELECT doc_id, lang, CAST(floor(n_chars / 50.0) AS BIGINT) AS blk,
               list_distinct(list_transform(
                 range(0, greatest(len(string_split($SqlNorm, ' ')) - 3, 0) + 1),
                 i -> array_to_string(string_split($SqlNorm, ' ')[i + 1:i + 3], ' '))) AS sh
             FROM documents),
             p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM s a JOIN s b ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
               WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                       len(list_distinct(list_cat(a.sh, b.sh))), 6) >= 0.1),
             e AS (SELECT id_a AS src, id_b AS dst FROM p
                   UNION ALL SELECT id_b, id_a FROM p),
             reach AS (
               SELECT doc_id AS id, doc_id AS lbl FROM documents
               UNION
               SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id),
             c AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
             r AS (SELECT doc_id AS rep_id, cluster_id, row_number() OVER (
                 PARTITION BY cluster_id
                 ORDER BY d.n_chars DESC, doc_id ASC) AS rn
               FROM c JOIN documents d USING (doc_id))
             SELECT c.doc_id, c.cluster_id, r.rep_id,
               CAST(CASE WHEN c.doc_id = r.rep_id THEN 1 ELSE 0 END AS INTEGER) AS keep
             FROM c JOIN r ON c.cluster_id = r.cluster_id AND r.rn = 1
             ORDER BY c.doc_id"""))

  /** Export manifest for deterministic training shards: per-shard doc
    * count, token mass, XOR id-checksum and id range — the contract a
    * trainer verifies its read against ([[graft.ops.Layout.shardManifest]];
    * the write itself is LayoutSpec-tested). Oracle replays the shared
    * LCG's bits 9.. shard draw. */
  private val q104 = Q("q104_shard_manifest",
    (s, d) => Layout.shardManifest(documents(s, d), "doc_id",
      TextOps.wsTokenCount(col("text")), nShards = 8),
    Some("""SELECT CAST(((((doc_id % 2147483648) * 1103515245 + 12345)
                    % 2147483648) // 512) % 8 AS INTEGER) AS shard,
              count(*) AS n_docs,
              CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
              bit_xor((((doc_id % 2147483648) * 1103515245 + 12345)
                       % 2147483648)) AS id_checksum,
              min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM documents GROUP BY 1 ORDER BY shard"""))

  /** Incremental near-dup probe: the batch twin of the streaming LSM path
    * ([[graft.streaming.EventStreams.processIncrementalLshBatch]]) — the 20%
    * "new batch" slice (doc_id % 5 == 0) LSH-probed against the 80%
    * "already ingested" store slice, via the same
    * [[graft.ops.Dedup.lshProbeFrames]] primitive the streaming sink and
    * the bucketed-store probe share. The bucket-size guard counts STORE
    * rows only (the probe side is small by contract). Oracle replays
    * signatures → band keys → store-side guard → probe join in SQL over
    * the same polynomial hash family as q43. */
  private val q105 = Q("q105_incremental_neardup",
    (s, d) => {
      val docs = documents(s, d)
      val store = Dedup.lshProbeBands(
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
        .select(col("probe_id").as("id"), col("probe_sig").as("sig"),
          col("band_key"))
      val probe = Dedup.lshProbeBands(
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
      Dedup.lshProbeFrames(store, probe)
        .orderBy(col("probe_id"), col("store_id"))
    },
    Some {
      val K = 64; val bands = 16; val rpb = 4; val maxBucket = 200
      import graft.functions.TextKernels.{coefA, coefB}
      val mins = (0 until K).map(j =>
        s"min((${coefA(j)}::BIGINT * h1 + ${coefB(j)}::BIGINT * h2 + $j) % $P) AS s$j")
        .mkString(", ")
      def bandKey(b: Int): String =
        (0 until rpb).foldLeft(s"${97 + b}::BIGINT") { (acc, r) =>
          s"(($acc) * 1000003 + s${b * rpb + r}) % $P"
        }
      val bandList = (0 until bands).map(bandKey).mkString(", ")
      val eqTerms = (0 until K)
        .map(j => s"(CASE WHEN a.s$j = b.s$j THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH sh AS (${sqlShingleRows(3)}),
         |hs AS (SELECT doc_id, ${sqlPolyHash("s", 131, 7)} AS h1,
         |              ${sqlPolyHash("s", 137, 11)} AS h2 FROM sh),
         |sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
         |banded AS (SELECT doc_id, unnest([$bandList]) AS band_key FROM sig),
         |p AS (SELECT * FROM banded WHERE doc_id % 5 = 0),
         |st AS (SELECT * FROM banded WHERE doc_id % 5 != 0),
         |ok AS (SELECT band_key FROM st GROUP BY band_key
         |       HAVING count(*) <= $maxBucket),
         |stok AS (SELECT s.doc_id, s.band_key FROM st s JOIN ok USING (band_key)),
         |pairs AS (SELECT DISTINCT p.doc_id AS probe_id, s.doc_id AS store_id
         |          FROM p JOIN stok s USING (band_key)
         |          WHERE p.doc_id != s.doc_id)
         |SELECT pr.probe_id, pr.store_id, ($eqTerms) / $K.0 AS est_sim
         |FROM pairs pr JOIN sig a ON a.doc_id = pr.probe_id
         |              JOIN sig b ON b.doc_id = pr.store_id
         |ORDER BY probe_id, store_id""".stripMargin
    })

  /** ANN catalog serving through the BUCKETED STORE path
    * ([[graft.serve.Recommend.writeCatalogStore]] +
    * [[graft.serve.Recommend.recommendFromStore]]): synthetic factor
    * frames from the embeddings table (queries = vec_id < 20, catalog =
    * the rest, deterministic bias, every 10th item under the popularity
    * floor), the q53 fixed codebook as centroids, and nProbe = nCells —
    * exact by the probe contract (every cell probed = every eligible item
    * scored), so the DuckDB oracle is a plain cross-score + window while
    * the hash-verified plan is the real store build + bucket-pruned probe
    * + bounded-TopK serve. */
  private val q106 = Q("q106_ann_serving",
    (s, d) => {
      val emb = embeddings(s, d)
      val users = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("features"))
      val items = emb.filter(col("vec_id") >= 20)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("features"),
          ((col("vec_id") % 5).cast("double") * 0.2).as("bias"))
      val counts = emb.select(col("vec_id").as("id"),
        when(col("vec_id") % 10 === 9, 5L).otherwise(100L).as("n_ratings"))
      val codebook = fixedCodebook(emb)
      graft.serve.Recommend.writeCatalogStore(items, counts, codebook,
        "q106_store", numBuckets = codebook.size)
      graft.serve.Recommend.recommendFromStore("q106_store", users,
          codebook, nProbe = codebook.size, k = 5)
        .select(col("user_id"), col("item_id"),
          round(col("score"), 6).as("score"), col("rank").cast("long").as("rnk"))
        .orderBy(col("user_id"), col("rnk"))
    },
    Some {
      s"""WITH users AS (SELECT vec_id AS user_id, embedding
         |               FROM embeddings WHERE vec_id < 20),
         |items AS (SELECT vec_id AS item_id, embedding,
         |            (CAST(vec_id % 5 AS DOUBLE) * 0.2) AS bias
         |          FROM embeddings WHERE vec_id >= 20 AND vec_id % 10 != 9),
         |scored AS (SELECT u.user_id, i.item_id,
         |             (${sqlDotChain("u", "i")}) + (0.05 * i.bias) AS score
         |           FROM users u CROSS JOIN items i),
         |ranked AS (SELECT user_id, item_id, score, CAST(row_number() OVER
         |  (PARTITION BY user_id ORDER BY score DESC, item_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT user_id, item_id, round(score, 6) AS score, rnk
         |FROM ranked WHERE rnk <= 5 ORDER BY user_id, rnk""".stripMargin
    })

  /** CCNet-style boilerplate phrase scoring: bigram shingles occurring in
    * ≥ 5% of documents are corpus boilerplate; each doc reports its
    * distinct-shingle count and boilerplate fraction. (Synthetic-corpus
    * parameters: the 40-word vocabulary makes 2-grams the granularity with
    * a discriminative document-frequency spread — production defaults are
    * n=3, 25%.) Oracle replays shingling, the integer DF threshold, and
    * the join-back in SQL. */
  private val q107 = Q("q107_boilerplate",
    (s, d) => Dedup.boilerplateShingleRatio(documents(s, d), "doc_id", "text",
        n = 2, minDocPct = 5)
      .orderBy(col("doc_id")),
    Some {
      s"""WITH sh AS (SELECT DISTINCT doc_id,
         |              ${sqlPolyHash("s", 131, 7)} * 2147483648
         |                + ${sqlPolyHash("s", 137, 11)} AS dg
         |            FROM (${sqlShingleRows(2)})),
         |bp AS (SELECT dg FROM (SELECT dg, count(*) AS df FROM sh GROUP BY dg)
         |       WHERE df * 100 >= 5 * (SELECT count(DISTINCT doc_id) FROM sh)),
         |j AS (SELECT s.doc_id, CASE WHEN b.dg IS NOT NULL THEN 1 ELSE 0 END AS is_bp
         |      FROM sh s LEFT JOIN bp b USING (dg))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(sum(is_bp) AS BIGINT) AS n_boiler,
         |       round(sum(is_bp)::DOUBLE / count(*), 6) AS boiler_ratio
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })

  /** Cross-source contamination matrix: distinct 6-gram shingles shared by
    * each unordered source pair — the governance audit of which corpus
    * sources leak into each other (benchmark-suite-as-source = train-test
    * contamination sweep). The universal-gram cap mirrors the operator
    * default. */
  private val q108 = Q("q108_source_overlap",
    (s, d) => Dedup.crossSourceNgramOverlap(documents(s, d), "doc_id", "text",
        "source", n = 6, maxSourcesPerGram = 1000)
      .orderBy(col("src_a"), col("src_b")),
    Some {
      s"""WITH base AS (SELECT source, s FROM (
         |  SELECT doc_id, source, unnest(list_transform(
         |    range(0, greatest(len(string_split($SqlNorm, ' ')) - 6, 0) + 1),
         |    i -> array_to_string(string_split($SqlNorm, ' ')[i + 1:i + 6], ' '))) AS s
         |  FROM documents)),
         |g AS (SELECT DISTINCT source,
         |        ${sqlPolyHash("s", 131, 7)} * 2147483648
         |          + ${sqlPolyHash("s", 137, 11)} AS dg
         |      FROM base),
         |ok AS (SELECT dg FROM g GROUP BY dg
         |       HAVING count(*) > 1 AND count(*) <= 1000),
         |p AS (SELECT g.source, g.dg FROM g JOIN ok USING (dg))
         |SELECT a.source AS src_a, b.source AS src_b,
         |       CAST(count(*) AS BIGINT) AS n_shared
         |FROM p a JOIN p b ON a.dg = b.dg AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin
    })

  /** Naive-Bayes source classifier (train by counting + smoothed scoring,
    * [[Classify.nbPredict]]): the quality-classifier stage of a curation
    * pipeline, self-trained on the corpus's own source labels. The oracle
    * replays the count/smooth/score algebra and the argmax tie-break
    * (score DESC, class ASC) exactly. */
  private val q109 = Q("q109_nb_classify",
    (s, d) => Classify.nbPredict(documents(s, d), "doc_id", "text", "source")
      .orderBy(col("doc_id")),
    Some {
      s"""WITH tk AS (SELECT doc_id, source AS y0, w FROM (
         |    SELECT doc_id, source, unnest(string_split($SqlNorm, ' ')) AS w
         |    FROM documents) WHERE w <> ''),
         |c AS (SELECT w, y0 AS y, count(*) AS cnt FROM tk GROUP BY 1, 2),
         |cy AS (SELECT y, sum(cnt) AS cy FROM c GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS v FROM c),
         |pr AS (SELECT w, y, (coalesce(cnt, 0) + 1)::DOUBLE
         |         / (cy + v)::DOUBLE AS p
         |       FROM (SELECT DISTINCT w FROM c) CROSS JOIN cy
         |       LEFT JOIN c USING (w, y) CROSS JOIN v),
         |sc AS (SELECT doc_id, y, round(avg(p), 6) AS s
         |       FROM tk JOIN pr USING (w) GROUP BY 1, 2)
         |SELECT doc_id, y AS pred_label, s AS score FROM (
         |  SELECT doc_id, y, s, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY s DESC, y ASC) AS rn FROM sc)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin
    })

  /** Span-level repeated-substring detection ([[Dedup.repeatedSpans]],
    * Lee et al. ACL'22 at k-gram granularity): maximal per-doc token spans
    * covered by 8-token windows occurring ≥2 times corpus-wide. The oracle
    * groups windows by their STRING (the operator by the 62-bit kernel
    * hash — equal iff strings equal, collisions negligible at any tested
    * scale; q42's precedent) and replays the gaps-and-islands merge. */
  /** Shared CTE chain replaying [[Dedup.repeatedSpans]] at window size k:
    * positional k-token windows (strings — hash equality iff string
    * equality), corpus-wide repeat mark, gaps-and-islands merge. Yields
    * CTEs t (doc_id, toks) and sp (doc_id, grp with per-window pos rows);
    * q110 and q113 close over them differently. */
  private def sqlSpanChain(k: Int, keepFirst: Boolean = false): String = {
    val pClause =
      if (!keepFirst)
        s"""p AS (SELECT doc_id, pos FROM w
           |      WHERE ws IN (SELECT ws FROM w GROUP BY ws HAVING count(*) >= 2)),""".stripMargin
      else
        s"""p AS (SELECT doc_id, pos FROM (
           |        SELECT doc_id, pos,
           |               count(*) OVER (PARTITION BY ws) AS occ,
           |               row_number() OVER (PARTITION BY ws
           |                 ORDER BY doc_id, pos) AS rn FROM w)
           |      WHERE occ >= 2 AND rn > 1),""".stripMargin
    s"""t AS (SELECT doc_id, string_split($SqlNorm, ' ') AS toks FROM documents),
       |w AS (SELECT doc_id,
       |        unnest(range(0, len(toks) - $k + 1)) AS pos,
       |        unnest(list_transform(range(0, len(toks) - $k + 1),
       |          i -> array_to_string(toks[i + 1:i + $k], ' '))) AS ws
       |      FROM t WHERE len(toks) >= $k),
       |$pClause
       |b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER (
       |        PARTITION BY doc_id ORDER BY pos) <= $k THEN 0 ELSE 1 END AS brk
       |      FROM p),
       |sp AS (SELECT doc_id, pos, sum(brk) OVER (
       |        PARTITION BY doc_id ORDER BY pos) AS grp FROM b)""".stripMargin
  }

  private val q110 = Q("q110_repeated_spans",
    (s, d) => Dedup.repeatedSpans(documents(s, d), "doc_id", "text", 8)
      .orderBy(col("doc_id"), col("span_start")),
    Some {
      s"""WITH ${sqlSpanChain(8)}
         |SELECT doc_id, min(pos) AS span_start, max(pos) - min(pos) + 8 AS span_len,
         |       count(*) AS n_windows
         |FROM sp GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin
    })

  /** CCNet-shaped perplexity filter ([[Terms.bigramPerplexity]]): a
    * Laplace-smoothed bigram LM trained on the src0 slice (the "clean
    * reference") scores every document; the oracle replays the count /
    * smooth / −log₂ / 2^avg algebra with the same train/apply split. */
  private val q111 = Q("q111_lm_perplexity",
    (s, d) => {
      val docs = documents(s, d)
      Terms.bigramPerplexity(docs, "doc_id", "text",
        docs.filter(col("source") === "src0"), "text")
        .orderBy(col("doc_id"))
    },
    Some {
      s"""WITH tt AS (SELECT string_split($SqlNorm, ' ') AS toks
         |            FROM documents WHERE source = 'src0'),
         |tb AS (SELECT unnest(toks[1:len(toks) - 1]) AS w1,
         |              unnest(toks[2:len(toks)]) AS w2 FROM tt),
         |c2 AS (SELECT w1, w2, count(*) AS c2 FROM tb GROUP BY 1, 2),
         |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS v FROM
         |        (SELECT unnest(toks) AS w FROM tt)),
         |sb AS (SELECT doc_id, unnest(toks[1:len(toks) - 1]) AS w1,
         |              unnest(toks[2:len(toks)]) AS w2
         |       FROM (SELECT doc_id, string_split($SqlNorm, ' ') AS toks
         |             FROM documents)),
         |p AS (SELECT doc_id,
         |        -log2((coalesce(c2.c2, 0) + 1)::DOUBLE
         |              / (coalesce(c1.c1, 0) + v.v)::DOUBLE) AS nll
         |      FROM sb LEFT JOIN c2 USING (w1, w2)
         |              LEFT JOIN c1 USING (w1) CROSS JOIN v)
         |SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS avg_nll,
         |       round(pow(2.0, avg(nll)), 4) AS ppl
         |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })

  /** Asymmetric containment near-dup pairs ([[Dedup.ngramContainmentPairs]],
    * Broder's |A∩B|/|A|): catches short-inside-long inclusion that symmetric
    * Jaccard misses — blocked on lang ONLY (a length bucket would separate
    * exactly the asymmetric pairs this measure exists for). The oracle is
    * the independent brute form: per-block cross join with list_intersect,
    * equivalent because a pair with containment ≥ t > 0 shares ≥ 1 shingle
    * and the corpus's block DF stays below the operator's prune cap. */
  private val q112 = Q("q112_ngram_containment",
    (s, d) => Dedup.ngramContainmentPairs(documents(s, d), "doc_id", "text",
        Seq(col("lang")), 3, 0.6)
      .orderBy(col("id_a"), col("id_b")),
    Some {
      val contA = "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6)"
      val contB = "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh), 6)"
      s"""WITH s AS (SELECT doc_id, lang, list_distinct(list_transform(
         |    range(0, greatest(len(string_split($SqlNorm, ' ')) - 3, 0) + 1),
         |    i -> array_to_string(string_split($SqlNorm, ' ')[i + 1:i + 3], ' '))) AS sh
         |  FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       $contA AS cont_a, $contB AS cont_b
         |FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE greatest($contA, $contB) >= 0.6
         |ORDER BY id_a, id_b""".stripMargin
    })

  /** Span CUT ([[Dedup.cutSpans]] ∘ [[Dedup.repeatedSpans]]): remove every
    * repeated-span token from every document — the train-on-this output of
    * sub-document dedup. The oracle rebuilds spans via the shared chain,
    * anti-joins covered positions, and re-assembles text with an ordered
    * string_agg; fully-covered docs survive as empty rows both sides. */
  private val q113 = Q("q113_span_cut",
    (s, d) => {
      val docs = documents(s, d)
      Dedup.cutSpans(docs, "doc_id", "text",
          Dedup.repeatedSpans(docs, "doc_id", "text", 8))
        .orderBy(col("doc_id"))
    },
    Some(s"WITH ${sqlSpanChain(8)},\n${sqlCutTail(8)}"))

  /** Replay of [[graft.ops.Dedup.cutSpans]] downstream of a span chain:
    * expand spans to cut positions, anti-join, reassemble kept tokens in
    * order. Shared by q113 and q128 (which differ only in the chain's
    * p-clause). */
  private def sqlCutTail(k: Int): String =
    s"""spans AS (SELECT doc_id, min(pos) AS s0, max(pos) + $k - 1 AS s1
       |          FROM sp GROUP BY doc_id, grp),
       |tok AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos,
       |               unnest(toks) AS w FROM t),
       |cut AS (SELECT DISTINCT tok.doc_id, pos FROM tok
       |        JOIN spans s ON tok.doc_id = s.doc_id
       |                    AND pos >= s.s0 AND pos <= s.s1),
       |kept AS (SELECT doc_id, pos, w FROM tok
       |         ANTI JOIN cut USING (doc_id, pos)),
       |agg AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS clean_text,
       |               count(*) AS n_kept FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
       |       coalesce(agg.n_kept, 0) AS n_kept,
       |       len(t.toks) - coalesce(agg.n_kept, 0) AS n_cut
       |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id ORDER BY t.doc_id""".stripMargin

  /** L16 substitute (SURVEY §7.4): PCA of the embedding corpus — the
    * visualization-prep step the reference runs through t-SNE
    * (tSNE_and_conv_plot.py:107-108). Fit is one map-side-combining
    * aggregation (count + Σv + Σvvᵀ), eigen driver-side on the 64×64
    * covariance, projection a narrow literal-dot map
    * ([[graft.ops.Projection]]).
    *
    * Declared in the driver-VERIFIABLE split (a 64-dim eigenproblem is not
    * expressible in DuckDB, but everything around it is): the output is a
    * (stat, value) frame where
    *  - `mean_ii` / `cov_ii_jj` (first 8 dims) and `trace` (all 64 dims)
    *    audit the FIT STAGE value-for-value — plain sum/count algebra the
    *    oracle replays from the raw embeddings
    *    ([[graft.ops.Projection.covarianceStats]]);
    *  - the eigen/projection stage is audited through invariants whose
    *    exact values the oracle knows as constants and which hold ONLY if
    *    the decomposition is correct: component orthonormality
    *    (w·w = 1, w1·w2 = 0), projected-coordinate centering
    *    (mean x = mean y = 0), decorrelation (sample cov(x,y) = 0 — the
    *    projected cross-covariance is λ₂·w1·w2), and variance ordering
    *    (var x ≥ var y). The centering/decorrelation rows aggregate the
    *    ACTUAL projected coordinates distributedly, so the projection map
    *    itself is exercised, not just the model.
    * Full 2-D coordinate values remain pinned by ProjectionSpec (golden
    * 2-D eigen, ml.feature.PCA agreement, sign/orthonormality properties). */
  /** The (stat, value) verification frame of the q114 contract from
    * already-aggregated fit statistics — shared by the one-shot path
    * (q114) and the mergeable moment-store path (q141), which must agree
    * with the same oracle by the monoid-fold argument. */
  private def pcaStatRows(s: org.apache.spark.sql.SparkSession,
                          emb: org.apache.spark.sql.DataFrame,
                          mean: Array[Double],
                          cov: Array[Array[Double]]): org.apache.spark.sql.DataFrame = {
    val slice = 8
    val meanRows = (0 until slice).map(i => (f"mean_$i%02d", mean(i)))
    val covRows = for { i <- 0 until slice; j <- i until slice }
      yield (f"cov_$i%02d_$j%02d", cov(i)(j))
    val trace = (0 until 64).map(i => cov(i)(i)).sum
    val model = Projection.pcaFromStats(mean, cov.map(_.clone), k = 2)
    val w1 = model.components(0); val w2 = model.components(1)
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val pr = Projection.projectPca(emb, "embedding", model, Seq("x", "y"))
      .agg(avg(col("x")), avg(col("y")), covar_samp(col("x"), col("y")),
        var_samp(col("x")), var_samp(col("y")))
      .head()
    val rows = meanRows ++ covRows ++ Seq(
      ("trace", trace),
      ("w1_dot_w1", dot(w1, w1)), ("w1_dot_w2", dot(w1, w2)),
      ("w2_dot_w2", dot(w2, w2)),
      ("proj_mean_x", pr.getDouble(0)), ("proj_mean_y", pr.getDouble(1)),
      ("proj_cov_xy", pr.getDouble(2)),
      ("var_order", if (pr.getDouble(3) >= pr.getDouble(4)) 1.0 else 0.0))
    import s.implicits._
    // + 0.0 canonicalizes IEEE -0.0 → +0.0 after the round
    rows.toDF("stat", "value")
      .select(col("stat"), (round(col("value"), 6) + lit(0.0)).as("value"))
      .orderBy(col("stat"))
  }

  private val q114 = Q("q114_pca_project",
    (s, d) => {
      val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val (_, mean, cov) = Projection.covarianceStats(emb, "embedding", 64)
      pcaStatRows(s, emb, mean, cov)
    },
    Some("""WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         |         CAST(unnest(range(len(embedding))) AS BIGINT) AS i
         |       FROM embeddings WHERE embedding IS NOT NULL),
         |cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings
         |        WHERE embedding IS NOT NULL),
         |m AS (SELECT i, sum(v) AS s, sum(v * v) AS ss FROM ex GROUP BY i),
         |means AS (SELECT printf('mean_%02d', i) AS stat, s / n AS value
         |          FROM m, cnt WHERE i < 8),
         |pair AS (SELECT a.i AS ai, b.i AS bi, sum(a.v * b.v) AS sp
         |         FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
         |         WHERE a.i < 8 AND b.i < 8 GROUP BY 1, 2),
         |covs AS (SELECT printf('cov_%02d_%02d', pair.ai, pair.bi) AS stat,
         |           (sp - n * (ma.s / n) * (mb.s / n)) / (n - 1) AS value
         |         FROM pair
         |         JOIN m ma ON ma.i = pair.ai JOIN m mb ON mb.i = pair.bi
         |         CROSS JOIN cnt),
         |tr AS (SELECT 'trace' AS stat,
         |         sum((ss - s * s / n) / (n - 1)) AS value FROM m CROSS JOIN cnt),
         |inv AS (SELECT * FROM (VALUES ('w1_dot_w1', 1.0), ('w1_dot_w2', 0.0),
         |          ('w2_dot_w2', 1.0), ('proj_mean_x', 0.0),
         |          ('proj_mean_y', 0.0), ('proj_cov_xy', 0.0),
         |          ('var_order', 1.0)) AS t(stat, value))
         |SELECT stat, CAST(round(value, 6) + 0.0 AS DOUBLE) AS value FROM
         |  (SELECT * FROM means UNION ALL SELECT * FROM covs
         |   UNION ALL SELECT * FROM tr
         |   UNION ALL SELECT stat, CAST(value AS DOUBLE) AS value FROM inv)
         |ORDER BY stat""".stripMargin))

  /** Quantized IVF ANN (verdict r6 item 8 — the q53 × q67 composite): int8
    * codes + per-vector scale in the cell-bucketed store, candidates ranked
    * on dequantized dots from the compact store, exact re-rank on the
    * survivors against the full-precision corpus. Declared at the
    * exact-equality operating point (nProbe = nCells, full re-rank), where
    * the result provably equals brute-force cosine top-k — so the oracle is
    * the q48 brute-force SQL; the approximate operating point (bounded
    * rerankK, partial probes) is recall-spec'd in QuantizedIvfSpec. */
  private val q115 = Q("q115_quantized_ivf",
    (s, d) => {
      val emb = embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 20)
      val corpus = emb.filter(col("vec_id") >= 20)
      val codebook = fixedCodebook(emb)
      Similarity.writeQuantizedIvfStore(corpus, "vec_id", "embedding",
        codebook, "q115_store", numBuckets = codebook.size)
      Similarity.quantizedIvfSearchFromStore(s, "q115_store", corpus, qs,
          "vec_id", "embedding", codebook, nProbe = codebook.size, k = 5,
          rerankK = 0)
        .orderBy(col("query_id"), col("rnk"))
    },
    Some("""WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
              CAST(unnest(range(len(embedding))) AS BIGINT) AS i FROM embeddings),
            n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
            dots AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id, sum(a.v * b.v) AS dp
              FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < 20 AND b.vec_id >= 20
              GROUP BY a.vec_id, b.vec_id),
            sims AS (SELECT query_id, cand_id, dp / (na.nrm * nb.nrm) AS sim
              FROM dots JOIN n na ON na.vec_id = query_id JOIN n nb ON nb.vec_id = cand_id),
            ranked AS (SELECT query_id, cand_id, sim, CAST(row_number() OVER
              (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk FROM sims)
            SELECT query_id, cand_id, round(sim, 6) AS cosine_sim, rnk
            FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk"""))

  /** BM25 ranked retrieval ([[Terms.bm25Search]]): the relevance-ranked
    * upgrade of q89's boolean search — keyword leg of hybrid corpus
    * search. Rational (log-free) Robertson idf per the engine's
    * bit-replayability contract; ranking on the 6-dp rounded score with
    * doc_id tie-break, so the DuckDB oracle replays the exact order. */
  /** Full BM25 top-k replay (q116's oracle, shared verbatim by q131 — the
    * store path must be score-identical to the live path — and, with a
    * `where` clause, by q136: post-deletion scores must equal a rebuild
    * over the surviving corpus). */
  private def sqlBm25Top(terms: Seq[String], k: Int,
                         where: String = ""): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val w = if (where.isEmpty) "" else s" WHERE $where"
    s"""WITH docs0 AS (SELECT * FROM documents$w),
       |tnz AS (SELECT doc_id, unnest(string_split($SqlNorm, ' ')) AS term
       |             FROM docs0),
       |tok AS (SELECT doc_id, term FROM tnz WHERE term <> ''),
       |dl AS (SELECT d.doc_id, count(t.term) AS dl
       |       FROM docs0 d LEFT JOIN tok t USING (doc_id) GROUP BY 1),
       |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       |       WHERE term IN ($inList) GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT tf.doc_id, count(*) AS n_hit,
       |    round(sum(((st.n_docs::DOUBLE - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
       |      * tf.tf::DOUBLE * 2.2
       |      / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl::DOUBLE / st.avgdl))), 6)
       |      AS bm25
       |  FROM tf JOIN dfq USING (term) JOIN dl ON tf.doc_id = dl.doc_id
       |       CROSS JOIN st
       |  GROUP BY 1)
       |SELECT doc_id, CAST(n_hit AS BIGINT) AS n_hit, bm25,
       |       CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rnk
       |FROM (SELECT * FROM sc ORDER BY bm25 DESC, doc_id LIMIT $k)
       |ORDER BY rnk""".stripMargin
  }

  private val q116 = Q("q116_bm25_search",
    (s, d) => Terms.bm25Search(documents(s, d), "doc_id", "text",
        Seq("vector", "join", "filter"), k = 20)
      .orderBy(col("bm25").desc, col("doc_id")),
    Some(sqlBm25Top(Seq("vector", "join", "filter"), 20)))

  /** Hybrid search: reciprocal-rank fusion ([[Similarity.rrfFuse]]) of the
    * q116 BM25 keyword ranking with a vector-similarity ranking for query
    * vector 0 — the standard two-leg retrieval stack of a corpus platform.
    * Both legs and the fusion are rational arithmetic over integer ranks,
    * so the oracle replays the fused order exactly. */
  private val q117 = Q("q117_hybrid_rrf",
    (s, d) => {
      val kw = Terms.bm25Search(documents(s, d), "doc_id", "text",
          Seq("vector", "join", "filter"), k = 20)
        .select(col("doc_id").as("id"), col("rnk"))
      val emb = embeddings(s, d)
      val vec = Similarity.cosineTopK(emb.filter(col("vec_id") === 0),
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", 20)
        .select(col("cand_id").as("id"), col("rank").as("rnk"))
      Similarity.rrfFuse(Seq(kw, vec), "id", "rnk", k = 15)
        .orderBy(col("rrf").desc, col("id"))
    },
    Some {
      s"""WITH tnz AS (SELECT doc_id, unnest(string_split($SqlNorm, ' ')) AS term
         |             FROM documents),
         |tok AS (SELECT doc_id, term FROM tnz WHERE term <> ''),
         |dl AS (SELECT d.doc_id, count(t.term) AS dl
         |       FROM documents d LEFT JOIN tok t USING (doc_id) GROUP BY 1),
         |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN ('vector', 'join', 'filter') GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id, round(sum(
         |    ((st.n_docs::DOUBLE - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
         |      * tf.tf::DOUBLE * 2.2
         |      / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl::DOUBLE / st.avgdl))), 6)
         |      AS bm25
         |  FROM tf JOIN dfq USING (term) JOIN dl ON tf.doc_id = dl.doc_id
         |       CROSS JOIN st
         |  GROUP BY 1),
         |kw AS (SELECT doc_id AS id, CAST(row_number() OVER
         |         (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rnk
         |       FROM (SELECT * FROM sc ORDER BY bm25 DESC, doc_id LIMIT 20)),
         |ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         |         CAST(unnest(range(len(embedding))) AS BIGINT) AS i FROM embeddings),
         |n2 AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY 1),
         |dots AS (SELECT b.vec_id AS cand_id, sum(a.v * b.v) AS dp
         |         FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id = 0 AND b.vec_id <> 0
         |         GROUP BY 1),
         |sims AS (SELECT cand_id, dp / (na.nrm * nb.nrm) AS sim
         |         FROM dots JOIN n2 na ON na.vec_id = 0
         |                   JOIN n2 nb ON nb.vec_id = cand_id),
         |vec AS (SELECT id, rnk FROM (SELECT cand_id AS id, CAST(row_number() OVER
         |          (ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk FROM sims)
         |        WHERE rnk <= 20),
         |u AS (SELECT id, 1.0 / (60.0 + rnk) AS c FROM kw
         |      UNION ALL SELECT id, 1.0 / (60.0 + rnk) AS c FROM vec)
         |SELECT id, CAST(count(*) AS BIGINT) AS n_lists, round(sum(c), 6) AS rrf
         |FROM u GROUP BY id ORDER BY rrf DESC, id LIMIT 15""".stripMargin
    })

  /** Surgical decontamination ([[Dedup.cutSpans]] ∘
    * [[Dedup.contaminatedSpans]]): excise only the token spans a corpus
    * document shares with the benchmark set (6-token windows, q80's
    * corpus/bench split) instead of dropping the whole document — q59's
    * doc-level verdict upgraded to span surgery. The oracle rebuilds the
    * bench window set as STRINGS (q110's hash-equality-iff-string-equality
    * precedent), marks matching corpus positions, replays the
    * gaps-and-islands merge and the token cut. */
  private val q118 = Q("q118_decontaminate_spans",
    (s, d) => {
      val docs = documents(s, d)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      Dedup.cutSpans(corpus, "doc_id", "text",
          Dedup.contaminatedSpans(corpus, bench, "doc_id", "text", 6))
        .orderBy(col("doc_id"))
    },
    Some {
      s"""WITH t AS (SELECT doc_id, string_split($SqlNorm, ' ') AS toks
         |           FROM documents WHERE doc_id % 97 <> 0),
         |bt AS (SELECT string_split($SqlNorm, ' ') AS toks
         |       FROM documents WHERE doc_id % 97 = 0),
         |bw AS (SELECT DISTINCT unnest(list_transform(
         |         range(0, len(toks) - 6 + 1),
         |         i -> array_to_string(toks[i + 1:i + 6], ' '))) AS ws
         |       FROM bt WHERE len(toks) >= 6),
         |w AS (SELECT doc_id,
         |        unnest(range(0, len(toks) - 6 + 1)) AS pos,
         |        unnest(list_transform(range(0, len(toks) - 6 + 1),
         |          i -> array_to_string(toks[i + 1:i + 6], ' '))) AS ws
         |      FROM t WHERE len(toks) >= 6),
         |p AS (SELECT doc_id, pos FROM w WHERE ws IN (SELECT ws FROM bw)),
         |b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER (
         |        PARTITION BY doc_id ORDER BY pos) <= 6 THEN 0 ELSE 1 END AS brk
         |      FROM p),
         |sp AS (SELECT doc_id, pos, sum(brk) OVER (
         |        PARTITION BY doc_id ORDER BY pos) AS grp FROM b),
         |spans AS (SELECT doc_id, min(pos) AS s0, max(pos) + 6 - 1 AS s1
         |          FROM sp GROUP BY doc_id, grp),
         |tok AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos,
         |               unnest(toks) AS w FROM t),
         |cut AS (SELECT DISTINCT tok.doc_id, pos FROM tok
         |        JOIN spans s ON tok.doc_id = s.doc_id
         |                    AND pos >= s.s0 AND pos <= s.s1),
         |kept AS (SELECT doc_id, pos, w FROM tok
         |         ANTI JOIN cut USING (doc_id, pos)),
         |agg AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS clean_text,
         |               count(*) AS n_kept FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
         |       coalesce(agg.n_kept, 0) AS n_kept,
         |       len(t.toks) - coalesce(agg.n_kept, 0) AS n_cut
         |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id ORDER BY t.doc_id""".stripMargin
    })

  /** Fixed-size per-stratum sample ([[TextOps.groupSample]]): exactly
    * min(k, |stratum|) docs per source by the k smallest replayable LCG
    * draws — the reservoir-sampling contract via a bounded per-group TopK
    * aggregator (each (stratum, partition) exchanges <= k pairs; a window
    * would shuffle the corpus). Oracle replays draw + row_number. */
  private val q119 = Q("q119_group_sample",
    (s, d) => TextOps.groupSample(documents(s, d), "doc_id", "source", k = 20)
      .withColumnRenamed("stratum", "source")
      .orderBy(col("source"), col("draw"), col("doc_id")),
    Some("""WITH dr AS (SELECT source, doc_id,
              (((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648) AS draw
            FROM documents),
            rk AS (SELECT *, row_number() OVER (
              PARTITION BY source ORDER BY draw, doc_id) AS rn FROM dr)
            SELECT source, doc_id, draw FROM rk WHERE rn <= 20
            ORDER BY source, draw, doc_id"""))

  /** Z-order key computation ([[Layout.zOrderKey]]): min-max bin both
    * columns to 16 bits, Morton-interleave — the write-time sort key of
    * [[Layout.writeZOrdered]]'s multi-column data-skipping layout,
    * declared as a query because the key is pure replayable integer bit
    * math (truncating division + 4 shift-or-mask dilation steps, both
    * engines bit-identical). */
  private val q120 = Q("q120_zorder_key",
    (s, d) => Layout.zOrderKey(
        orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        "o_orderkey", "o_custkey", zName = "zkey")
      .orderBy(col("zkey"), col("o_orderkey")),
    Some("""WITH mm AS (SELECT min(o_orderkey) AS amin, max(o_orderkey) AS amax,
                   min(o_custkey) AS bmin, max(o_custkey) AS bmax FROM orders),
            b AS (SELECT o_orderkey, o_custkey,
                CASE WHEN amax = amin THEN 0
                     ELSE ((o_orderkey - amin) * 65535) // (amax - amin) END AS xa,
                CASE WHEN bmax = bmin THEN 0
                     ELSE ((o_custkey - bmin) * 65535) // (bmax - bmin) END AS xb
              FROM orders CROSS JOIN mm),
            s1 AS (SELECT *, (xa | (xa << 8)) & 16711935 AS a1,
                          (xb | (xb << 8)) & 16711935 AS b1 FROM b),
            s2 AS (SELECT *, (a1 | (a1 << 4)) & 252645135 AS a2,
                          (b1 | (b1 << 4)) & 252645135 AS b2 FROM s1),
            s3 AS (SELECT *, (a2 | (a2 << 2)) & 858993459 AS a3,
                          (b2 | (b2 << 2)) & 858993459 AS b3 FROM s2),
            s4 AS (SELECT *, (a3 | (a3 << 1)) & 1431655765 AS a4,
                          (b3 | (b3 << 1)) & 1431655765 AS b4 FROM s3)
            SELECT o_orderkey, o_custkey, (a4 | (b4 << 1)) AS zkey FROM s4
            ORDER BY zkey, o_orderkey"""))

  /** Hot/cold split skew join ([[ScaleJoins.hotKeySplitJoin]] fed by
    * [[ScaleJoins.detectHotKeys]]): detected-hot keys join a broadcast
    * right slice (hot rows never shuffle), the rest takes the plain
    * shuffle join — declared at its equality contract (q73's precedent):
    * the result must equal the plain equi-join + aggregate. */
  private val q121 = Q("q121_hot_split_join",
    (s, d) => {
      val li = lineitem(s, d)
      val sup = supplier(s, d).withColumnRenamed("s_suppkey", "l_suppkey")
      val hot = ScaleJoins.detectHotKeys(li, "l_suppkey", support = 0.005)
      ScaleJoins.hotKeySplitJoin(li, sup, "l_suppkey", hot)
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy(col("s_name"))
    },
    Some("""SELECT s_name, CAST(count(*) AS BIGINT) AS n_items,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_name ORDER BY s_name"""))

  /** Product-quantization ANN ([[Similarity.pqCodebooks]]/[[Similarity
    * .pqEncode]]/[[Similarity.pqSearch]]): 32×-compressed byte codes,
    * query-side ADC lookup tables, exact re-rank — declared at the
    * rerankK=0 exactness point (every encoded candidate exactly
    * re-ranked ⇒ equals brute-force cosine top-k whatever the fitted
    * codebooks; q115's nProbe=nCells precedent), so the oracle is the
    * same brute-force SQL while the query exercises the
    * encode → ADC → re-rank path end to end. */
  private val q122 = Q("q122_pq_ann",
    (s, d) => {
      val emb = embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 20)
      val corpus = emb.filter(col("vec_id") >= 20)
      // deterministic codebooks (q53's fixedCodebook precedent, sliced
      // per subspace): codebook QUALITY is irrelevant at the rerankK=0
      // exactness point, and the k-means fit path is spec'd in PqSpec —
      // the declared query pins encode → ADC → re-rank
      val base = fixedCodebook(emb).map(_._2)
      val sub = base.head.length / 4
      val books = (0 until 4).map { j =>
        base.zipWithIndex.map { case (v, i) =>
          (i.toLong, v.slice(j * sub, j * sub + sub)) }.toSeq
      }
      val codes = Similarity.pqEncode(corpus, "vec_id", "embedding", books)
      Similarity.pqSearch(qs, codes, corpus, "vec_id", "embedding", books,
          k = 5, rerankK = 0)
        .orderBy(col("query_id"), col("rnk"))
    },
    Some("""WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
              CAST(unnest(range(len(embedding))) AS BIGINT) AS i FROM embeddings),
            n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
            dots AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id, sum(a.v * b.v) AS dp
              FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < 20 AND b.vec_id >= 20
              GROUP BY a.vec_id, b.vec_id),
            sims AS (SELECT query_id, cand_id, dp / (na.nrm * nb.nrm) AS sim
              FROM dots JOIN n na ON na.vec_id = query_id JOIN n nb ON nb.vec_id = cand_id),
            ranked AS (SELECT query_id, cand_id, sim, CAST(row_number() OVER
              (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk FROM sims)
            SELECT query_id, cand_id, round(sim, 6) AS cosine_sim, rnk
            FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk"""))

  /** Store deletion (takedown / right-to-be-forgotten at store level):
    * build the bucketed IVF store, record two tombstone batches
    * ([[Stores.addTombstones]] — O(deleted), the store is not rewritten),
    * then serve through the standard probe path, which anti-joins the
    * broadcast tombstone set out of the bucket-pruned candidate slice.
    * Declared at the exactness point (nProbe = nCells ⇒ every surviving
    * row is a candidate), so the oracle is brute-force cosine top-k over
    * the corpus MINUS the deleted ids — deletion is verified end-to-end
    * through the serving path, not by inspecting the store. Compaction
    * equality (rewrite-minus-tombstones ≡ tombstoned reads) is spec'd in
    * StoresSpec. */
  private val q123 = Q("q123_store_delete",
    (s, d) => {
      val emb = embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 20)
      val corpus = emb.filter(col("vec_id") >= 20)
      val codebook = fixedCodebook(emb)
      Similarity.writeIvfStore(corpus, "vec_id", "embedding", codebook,
        "q123_store", numBuckets = codebook.size)
      Stores.addTombstones(corpus.filter(col("vec_id") % 7 === 0),
        "vec_id", "q123_store", batchId = 0L)
      Stores.addTombstones(corpus.filter(col("vec_id") % 11 === 3),
        "vec_id", "q123_store", batchId = 1L)
      Similarity.ivfSearchFromStore(s, "q123_store", qs, "vec_id",
          "embedding", codebook, nProbe = codebook.size, k = 5)
        .orderBy(col("query_id"), col("rnk"))
    },
    Some("""WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
              CAST(unnest(range(len(embedding))) AS BIGINT) AS i FROM embeddings),
            n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
            dots AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id, sum(a.v * b.v) AS dp
              FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < 20 AND b.vec_id >= 20
              WHERE b.vec_id % 7 != 0 AND b.vec_id % 11 != 3
              GROUP BY a.vec_id, b.vec_id),
            sims AS (SELECT query_id, cand_id, dp / (na.nrm * nb.nrm) AS sim
              FROM dots JOIN n na ON na.vec_id = query_id JOIN n nb ON nb.vec_id = cand_id),
            ranked AS (SELECT query_id, cand_id, sim, CAST(row_number() OVER
              (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk FROM sims)
            SELECT query_id, cand_id, round(sim, 6) AS cosine_sim, rnk
            FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk"""))

  /** Gopher composite quality rules ([[TextOps.gopherRules]]): the
    * standard LLM-corpus rule bundle as per-rule statistics + conjunctive
    * keep, one codegen map over documents. The oracle replays every rule
    * (token/line list ops in DuckDB); keep compares UNROUNDED ratios —
    * identical IEEE expressions on both engines — while the exposed
    * ratios round to 6 dp (the q46 contract). */
  private val q124 = Q("q124_gopher_rules",
    (s, d) => {
      val g = TextOps.gopherRules(col("text"))
      Layout.spread(documents(s, d), "doc_id")
        .select(col("doc_id"),
          g.getField("n_words").as("n_words"),
          round(g.getField("mean_word_len"), 6).as("mean_word_len"),
          round(g.getField("symbol_ratio"), 6).as("symbol_ratio"),
          round(g.getField("bullet_frac"), 6).as("bullet_frac"),
          round(g.getField("ellipsis_frac"), 6).as("ellipsis_frac"),
          round(g.getField("alpha_frac"), 6).as("alpha_frac"),
          g.getField("n_stop").as("n_stop"),
          g.getField("keep").cast("int").as("keep"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH t AS (SELECT doc_id,
             |  regexp_split_to_array(trim(text), '\\s+') AS toks,
             |  string_split(text, chr(10)) AS lines,
             |  len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_sym,
             |  regexp_split_to_array($SqlNorm, '\\s+') AS ntoks
             |  FROM documents),
             |s AS (SELECT doc_id,
             |  CAST(len(toks) AS INTEGER) AS n_words,
             |  list_sum(list_transform(toks, w -> length(w)))::DOUBLE / len(toks) AS mean_word_len,
             |  n_sym::DOUBLE / len(toks) AS symbol_ratio,
             |  len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]')))::DOUBLE
             |    / len(lines) AS bullet_frac,
             |  len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.\\s*$$')))::DOUBLE
             |    / len(lines) AS ellipsis_frac,
             |  len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
             |    / len(toks) AS alpha_frac,
             |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
             |    sw -> list_contains(ntoks, sw))) AS INTEGER) AS n_stop
             |  FROM t)
             |SELECT doc_id, n_words, round(mean_word_len, 6) AS mean_word_len,
             |  round(symbol_ratio, 6) AS symbol_ratio,
             |  round(bullet_frac, 6) AS bullet_frac,
             |  round(ellipsis_frac, 6) AS ellipsis_frac,
             |  round(alpha_frac, 6) AS alpha_frac, n_stop,
             |  CASE WHEN n_words BETWEEN 50 AND 100000
             |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             |    AND symbol_ratio < 0.1 AND bullet_frac < 0.9 AND ellipsis_frac < 0.3
             |    AND alpha_frac > 0.8 AND n_stop >= 2
             |    THEN 1 ELSE 0 END AS keep
             |FROM s ORDER BY doc_id""".stripMargin))

  /** Incremental quantile store ([[Sketches.writeValueHistograms]] /
    * [[Sketches.mergedQuantiles]]): the corpus lands in four synthetic
    * batches (l_orderkey mod 4 — deterministic), each writing its own
    * (flag, quantity, count) histogram; discrete quantiles come from the
    * MERGED bin counts without rescanning any batch. Declared at the
    * identity-binning exactness point: l_quantity is integral-valued, so
    * the merged type-1 quantile equals DuckDB `quantile_disc` over the
    * whole table (rank = ceil(p·N) on both engines). */
  private val q125 = Q("q125_quantile_store",
    (s, d) => {
      val dir = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "q125_hist")
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(dir)) fs.delete(dir, true) // stale batches from prior runs
      val li = lineitem(s, d)
      (0L until 4L).foreach { b =>
        Sketches.writeValueHistograms(
          li.filter(pmod(col("l_orderkey"), lit(4L)) === b),
          "l_returnflag", col("l_quantity"), dir.toString, b)
      }
      Sketches.mergedQuantiles(s, dir.toString, "l_returnflag",
          Seq(0.25, 0.5, 0.75, 0.9))
        .orderBy(col("l_returnflag"), col("p"))
    },
    Some("""SELECT l_returnflag, p, q FROM (
              SELECT l_returnflag, 0.25 AS p,
                     quantile_disc(CAST(l_quantity AS BIGINT), 0.25) AS q
              FROM lineitem GROUP BY 1
              UNION ALL
              SELECT l_returnflag, 0.5, quantile_disc(CAST(l_quantity AS BIGINT), 0.5)
              FROM lineitem GROUP BY 1
              UNION ALL
              SELECT l_returnflag, 0.75, quantile_disc(CAST(l_quantity AS BIGINT), 0.75)
              FROM lineitem GROUP BY 1
              UNION ALL
              SELECT l_returnflag, 0.9, quantile_disc(CAST(l_quantity AS BIGINT), 0.9)
              FROM lineitem GROUP BY 1)
            ORDER BY l_returnflag, p"""))

  /** Hard-negative mining ([[Similarity.hardNegatives]]): per anchor, the
    * 5 most-similar corpus vectors of a DIFFERENT label — the contrastive-
    * training negative sampler, declared with the q48-family brute-force
    * oracle plus the label-disagreement predicate. */
  private val q126 = Q("q126_hard_negatives",
    (s, d) => {
      val emb = embeddings(s, d)
      Similarity.hardNegatives(emb.filter(col("vec_id") < 20),
          emb.filter(col("vec_id") >= 20), "vec_id", "embedding", "label", 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""WITH ex AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
              CAST(unnest(range(len(embedding))) AS BIGINT) AS i FROM embeddings),
            n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
            dots AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id, sum(a.v * b.v) AS dp
              FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < 20 AND b.vec_id >= 20
                AND a.label != b.label
              GROUP BY a.vec_id, b.vec_id),
            sims AS (SELECT query_id, cand_id, dp / (na.nrm * nb.nrm) AS sim
              FROM dots JOIN n na ON na.vec_id = query_id JOIN n nb ON nb.vec_id = cand_id),
            ranked AS (SELECT query_id, cand_id, sim, CAST(row_number() OVER
              (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rank FROM sims)
            SELECT query_id, cand_id, round(sim, 6) AS cosine_sim, rank
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** Leakage-safe split ([[Dedup.clusterSafeSplit]]): q54's near-dup
    * clusters, split train/val at cluster granularity with the shared
    * replayable LCG — a val doc can never have a near-dup in train. The
    * oracle extends q54's recursive-CTE component labeling with the LCG
    * split replay on the cluster label. */
  private val q127 = Q("q127_cluster_safe_split",
    (s, d) => {
      val docs = documents(s, d)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        Seq(col("lang"), floor(col("n_chars") / 50.0).cast("long")), 3, 0.1)
      Dedup.clusterSafeSplit(docs, "doc_id", pairs, valPct = 20)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE
             s AS (SELECT doc_id, lang, CAST(floor(n_chars / 50.0) AS BIGINT) AS blk,
               list_distinct(list_transform(
                 range(0, greatest(len(string_split($SqlNorm, ' ')) - 3, 0) + 1),
                 i -> array_to_string(string_split($SqlNorm, ' ')[i + 1:i + 3], ' '))) AS sh
             FROM documents),
             p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM s a JOIN s b ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
               WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                       len(list_distinct(list_cat(a.sh, b.sh))), 6) >= 0.1),
             e AS (SELECT id_a AS src, id_b AS dst FROM p
                   UNION ALL SELECT id_b, id_a FROM p),
             reach AS (
               SELECT doc_id AS id, doc_id AS lbl FROM documents
               UNION
               SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id),
             c AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id)
             SELECT doc_id, cluster_id,
               CASE WHEN (((((cluster_id % 2147483648) * 1103515245 + 12345)
                 % 2147483648) // 65536) % 100) < 20 THEN 'val' ELSE 'train' END AS split
             FROM c ORDER BY doc_id"""))

  /** Keep-one-copy exact-substring dedup
    * ([[graft.ops.Dedup.repeatedSpansKeepFirst]] + cutSpans): the
    * production form of Lee et al.'s span dedup — q113 cuts every
    * occurrence of a repeated passage; here the (doc_id, pos)-canonical
    * occurrence survives and only the later copies are excised. The
    * oracle swaps the span chain's p-clause for the windowed
    * occ/row_number form and replays the same cut. */
  private val q128 = Q("q128_span_dedup_keep_first",
    (s, d) => {
      val docs = documents(s, d)
      Dedup.cutSpans(docs, "doc_id", "text",
          Dedup.repeatedSpansKeepFirst(docs, "doc_id", "text", 8))
        .orderBy(col("doc_id"))
    },
    Some(s"WITH ${sqlSpanChain(8, keepFirst = true)},\n${sqlCutTail(8)}"))

  /** Fuzzy decontamination ([[graft.ops.Dedup.fuzzyDecontaminate]]):
    * corpus docs (doc_id % 7 != 0) whose MinHash est_sim against ANY
    * benchmark doc (doc_id % 7 == 0) clears 0.5 — the near-duplicate
    * leakage the exact n-gram check (q59/q118) misses. The oracle replays
    * the q43 signature/band pipeline with the corpus/bench split and the
    * per-doc best-match argmax. */
  private val q129 = Q("q129_fuzzy_decontaminate",
    (s, d) => {
      val docs = documents(s, d)
      Dedup.fuzzyDecontaminate(docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some {
      val K = 64; val bands = 16; val rpb = 4
      import graft.functions.TextKernels.{coefA, coefB}
      val mins = (0 until K).map(j =>
        s"min((${coefA(j)}::BIGINT * h1 + ${coefB(j)}::BIGINT * h2 + $j) % $P) AS s$j")
        .mkString(", ")
      def bandKey(b: Int): String =
        (0 until rpb).foldLeft(s"${97 + b}::BIGINT") { (acc, r) =>
          s"(($acc) * 1000003 + s${b * rpb + r}) % $P"
        }
      val bandList = (0 until bands).map(bandKey).mkString(", ")
      val eqTerms = (0 until K)
        .map(j => s"(CASE WHEN a.s$j = b.s$j THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH sh AS (${sqlShingleRows(3)}),
         |hs AS (SELECT doc_id, ${sqlPolyHash("s", 131, 7)} AS h1,
         |              ${sqlPolyHash("s", 137, 11)} AS h2 FROM sh),
         |sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
         |banded AS (SELECT doc_id, unnest([$bandList]) AS band_key FROM sig),
         |cand AS (SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
         |         FROM banded c JOIN banded b USING (band_key)
         |         WHERE c.doc_id % 7 != 0 AND b.doc_id % 7 = 0),
         |scored AS (SELECT cand.doc_id, cand.bench_id,
         |             ($eqTerms) / $K.0 AS est_sim
         |           FROM cand JOIN sig a ON a.doc_id = cand.doc_id
         |                     JOIN sig b ON b.doc_id = cand.bench_id)
         |SELECT doc_id, bench_id, est_sim FROM (
         |  SELECT doc_id, bench_id, est_sim, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY est_sim DESC, bench_id) AS rn
         |  FROM scored WHERE est_sim >= 0.5)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin
    })

  /** Certified sketch-pass top-k ([[graft.ops.Sketches.exactTopKeys]]):
    * the top-20 corpus terms via a freqItems candidate sweep + ONE
    * candidate-bounded exact aggregation, with the k-th-count >
    * support·N certificate that makes the result PROVABLY the full-
    * shuffle top-k — so the oracle is simply the exact top-20 (q66's SQL
    * shape). The full-shuffle q66 pays |vocabulary| exchange rows for
    * the same answer; this pays |candidates|. */
  private val q130 = Q("q130_heavy_hitters",
    (s, d) => {
      val toks = documents(s, d).select(
        explode(TextOps.wsTokens(TextOps.normalizeText(col("text")))).as("term"))
        .filter(col("term") =!= "")
      Sketches.exactTopKeys(toks, "term", 20, support = 0.001)
        .select(col("key").as("term"), col("cnt"), col("rank"))
    },
    Some(s"""WITH tok AS (SELECT unnest(string_split($SqlNorm, ' ')) AS term
               FROM documents),
             t AS (SELECT term, count(*) AS cnt FROM tok WHERE term <> '' GROUP BY 1)
             SELECT term, cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rank
             FROM t ORDER BY cnt DESC, term LIMIT 20"""))

  /** Persistent BM25 index ([[graft.ops.Terms.writeBm25Store]] /
    * [[graft.ops.Terms.bm25SearchFromStore]]): postings (term, doc_id,
    * tf, dl) bucketed by TERM with dl denormalized in, so a query
    * bucket-prunes to its terms' postings and scores with no doc-length
    * join — q116's answer at postings-probe cost instead of two corpus
    * scans. Score-identical to the live path by construction (shared
    * scoring tail), so the oracle is q116's SQL with a different term
    * set. */
  private val q131 = Q("q131_bm25_store",
    (s, d) => {
      Terms.writeBm25Store(documents(s, d), "doc_id", "text", "q131_store")
      Terms.bm25SearchFromStore(s, "q131_store",
          Seq("stream", "query", "data"), k = 20)
        .orderBy(col("bm25").desc, col("doc_id"))
    },
    Some(sqlBm25Top(Seq("stream", "query", "data"), 20)))

  /** Filtered ANN ([[graft.ops.Similarity.ivfSearchFromStore]] with
    * `candidateFilter` over a `metaCols` store column): top-5 similar
    * vectors AMONG label-1 candidates — the predicate runs on the
    * bucket-pruned slice before any scoring and reaches the parquet scan
    * (PushedFilters, pinned in IvfSpec). Declared at the nProbe = nCells
    * exactness point, where the result provably equals brute-force cosine
    * top-k over the filtered corpus — so the oracle is the q126-family
    * brute-force SQL with the label predicate. */
  private val q132 = Q("q132_filtered_ann",
    (s, d) => {
      val emb = embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 20)
      val corpus = emb.filter(col("vec_id") >= 20)
      val codebook = fixedCodebook(emb)
      Similarity.writeIvfStore(corpus, "vec_id", "embedding", codebook,
        "q132_store", numBuckets = codebook.size, metaCols = Seq("label"))
      Similarity.ivfSearchFromStore(s, "q132_store", qs, "vec_id", "embedding",
          codebook, nProbe = codebook.size, k = 5,
          candidateFilter = Some(col("label") === 1))
        .orderBy(col("query_id"), col("rnk"))
    },
    Some("""WITH ex AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
              CAST(unnest(range(len(embedding))) AS BIGINT) AS i FROM embeddings),
            n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
            dots AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id, sum(a.v * b.v) AS dp
              FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < 20 AND b.vec_id >= 20
                AND b.label = 1
              GROUP BY a.vec_id, b.vec_id),
            sims AS (SELECT query_id, cand_id, dp / (na.nrm * nb.nrm) AS sim
              FROM dots JOIN n na ON na.vec_id = query_id JOIN n nb ON nb.vec_id = cand_id),
            ranked AS (SELECT query_id, cand_id, sim, CAST(row_number() OVER
              (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk FROM sims)
            SELECT query_id, cand_id, round(sim, 6) AS cosine_sim, rnk
            FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk"""))

  /** Global-statistic gate driven by the mergeable histogram store: each
    * document is kept iff its length clears ITS LANGUAGE's corpus p25 —
    * the threshold comes from [[graft.ops.Sketches.mergedQuantiles]] over
    * q125-style per-batch histograms (no corpus rescan, no corpus sort to
    * find a percentile), and the gate itself is one broadcast join of the
    * groups×1 threshold frame. Identity binning on the integral n_chars ⇒
    * the threshold is EXACTLY DuckDB quantile_disc, so the whole
    * flag column replays. */
  private val q133 = Q("q133_quantile_gate",
    (s, d) => {
      val dir = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "q133_hist")
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(dir)) fs.delete(dir, true) // stale batches from prior runs
      val docs = documents(s, d)
      (0L until 4L).foreach { b =>
        Sketches.writeValueHistograms(
          docs.filter(pmod(col("doc_id"), lit(4L)) === b),
          "lang", col("n_chars"), dir.toString, b)
      }
      val thr = Sketches.mergedQuantiles(s, dir.toString, "lang", Seq(0.25))
        .select(col("lang"), col("q").as("q25"))
      docs.join(broadcast(thr), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("q25"),
          (col("n_chars") >= col("q25")).as("keep"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH thr AS (SELECT lang, quantile_disc(CAST(n_chars AS BIGINT), 0.25) AS q25
              FROM documents GROUP BY 1)
            SELECT doc_id, lang, n_chars, q25, n_chars >= q25 AS keep
            FROM documents JOIN thr USING (lang) ORDER BY doc_id"""))

  /** Mixture EXECUTION — q68 plans the target mixture, this runs it: the
    * plan's per-stratum keep_rates (a strata-bounded collect, the
    * [[graft.ops.Terms.mixturePlan]] output contract) become integer
    * percents driving the replayable-LCG [[graft.ops.TextOps
    * .stratifiedSample]], and the output is the ACHIEVED mixture (kept
    * docs + kept tokens per stratum) a curation run reports against its
    * targets. Percent resolution is the declared contract (the LCG draw
    * is mod 100). The oracle chains q68's plan SQL into q58's LCG replay
    * and rolls up. */
  private val q134 = Q("q134_mixture_rebalance",
    (s, d) => {
      val docs = documents(s, d)
      val toks = TextOps.wsTokenCount(col("text")).cast("long")
      val rates = Terms.mixturePlan(docs, "source", toks,
          Map("src0" -> 0.2, "src1" -> 0.1), defaultWeight = 0.035,
          budgetTokens = 1000000L)
        .select(col("stratum"), floor(col("keep_rate") * 100).cast("int").as("pct"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      TextOps.stratifiedSample(docs, "doc_id", "source", rates, defaultPct = 100)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("kept_docs"), sum(toks).as("kept_tokens"))
        .orderBy(col("source"))
    },
    Some("""WITH t AS (SELECT source AS stratum,
              CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
                AS tokens
              FROM documents GROUP BY source),
            p AS (SELECT stratum,
              CAST(floor(100 * least(1.0::DOUBLE,
                coalesce((CASE WHEN stratum = 'src0' THEN 0.2::DOUBLE
                               WHEN stratum = 'src1' THEN 0.1::DOUBLE
                               ELSE 0.035::DOUBLE END * 1000000) /
                  nullif(tokens::DOUBLE, 0.0), 1.0::DOUBLE))) AS INT) AS pct
              FROM t),
            kept AS (SELECT d.source, d.doc_id,
              CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS BIGINT) AS tok
              FROM documents d JOIN p ON p.stratum = d.source
              WHERE (((((d.doc_id % 2147483648) * 1103515245 + 12345)
                       % 2147483648) // 65536) % 100) < p.pct)
            SELECT source, count(*) AS kept_docs,
              CAST(sum(tok) AS BIGINT) AS kept_tokens
            FROM kept GROUP BY source ORDER BY source"""))

  /** Batched multi-query BM25 serving
    * ([[graft.ops.Terms.bm25BatchSearchFromStore]]): a 3-query workload
    * scored against the postings store in ONE pass — union-of-terms
    * bucket-pruned probe, broadcast workload join, bounded per-query TopK
    * (no window over candidates). The oracle replays the q116 scoring
    * chain with the workload as a VALUES join instead of a fixed
    * IN-list. */
  private val q135 = Q("q135_bm25_batch",
    (s, d) => {
      Terms.writeBm25Store(documents(s, d), "doc_id", "text", "q135_store")
      import s.implicits._
      val workload = Seq(
        (0L, "vector"), (0L, "join"),
        (1L, "data"), (1L, "stream"), (1L, "filter"),
        (2L, "query")).toDF("query_id", "term")
      Terms.bm25BatchSearchFromStore(s, "q135_store", workload, k = 10)
        .orderBy(col("query_id"), col("rnk"))
    },
    Some {
      s"""WITH qt AS (SELECT * FROM (VALUES (0, 'vector'), (0, 'join'),
         |    (1, 'data'), (1, 'stream'), (1, 'filter'),
         |    (2, 'query')) AS v(query_id, term)),
         |tnz AS (SELECT doc_id, unnest(string_split($SqlNorm, ' ')) AS term
         |        FROM documents),
         |tok AS (SELECT doc_id, term FROM tnz WHERE term <> ''),
         |dl AS (SELECT d.doc_id, count(t.term) AS dl
         |       FROM documents d LEFT JOIN tok t USING (doc_id) GROUP BY 1),
         |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT qt.query_id, tf.doc_id,
         |    round(sum(((st.n_docs::DOUBLE - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
         |      * tf.tf::DOUBLE * 2.2
         |      / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl::DOUBLE / st.avgdl))), 6)
         |      AS bm25
         |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
         |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
         |  GROUP BY 1, 2)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, bm25,
         |       CAST(row_number() OVER (PARTITION BY query_id
         |         ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rnk
         |FROM sc QUALIFY rnk <= 10 ORDER BY query_id, rnk""".stripMargin
    })

  /** Index deletion ([[graft.ops.Terms.tombstoneBm25Docs]]): a taken-down
    * document must leave the search index without an index rewrite. Two
    * OVERLAPPING delete batches (doc_id % 7 == 3, then doc_id % 3 == 0 —
    * they intersect at multiples of 21, exercising the already-tombstoned
    * exclusion that keeps the stats adjustment exact) tombstone docs from
    * the q131 postings store; the subsequent search anti-joins the
    * candidates and folds the negative stats adjustments, so scores
    * provably equal a rebuild over the surviving corpus — which is the
    * oracle: q116's SQL with the survivors' WHERE clause. */
  private val q136 = Q("q136_bm25_delete",
    (s, d) => {
      val docs = documents(s, d)
      Terms.writeBm25Store(docs, "doc_id", "text", "q136_store")
      Terms.tombstoneBm25Docs("q136_store",
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")),
        "doc_id", batchId = 1L)
      Terms.tombstoneBm25Docs("q136_store",
        docs.filter(col("doc_id") % 3 === 0).select(col("doc_id")),
        "doc_id", batchId = 2L)
      Terms.bm25SearchFromStore(s, "q136_store",
          Seq("vector", "join", "filter"), k = 20)
        .orderBy(col("bm25").desc, col("doc_id"))
    },
    Some(sqlBm25Top(Seq("vector", "join", "filter"), 20,
      where = "doc_id % 7 != 3 AND doc_id % 3 != 0")))

  /** Batched multi-tenant ANN serving — the vector twin of q135's BM25
    * workload shape: the WHOLE 20-query workload scores against the
    * filtered QUANTIZED store ([[graft.ops.Similarity.writeQuantizedIvfStore]]
    * with metadata, [[graft.ops.Similarity.quantizedIvfSearchFromStore]]
    * with `candidateFilter`) in ONE pass — one bucket-pruned scan of the
    * int8 codes serves every query (the probes broadcast onto the store
    * slice), the label IN-predicate runs before any dequantized scoring
    * and reaches the parquet scan, and per-query top-k uses the bounded
    * TopK aggregator (≤ k rows per (query, partition) exchanged, no
    * window over candidates). Declared at the exactness point
    * (nProbe = nCells, full re-rank), where the answer provably equals
    * brute-force cosine top-k over the filtered corpus — the q132-family
    * SQL with the IN-predicate. */
  private val q137 = Q("q137_ann_batch",
    (s, d) => {
      val emb = embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 20)
      val corpus = emb.filter(col("vec_id") >= 20)
      val codebook = fixedCodebook(emb)
      Similarity.writeQuantizedIvfStore(corpus, "vec_id", "embedding",
        codebook, "q137_store", numBuckets = codebook.size,
        metaCols = Seq("label"))
      Similarity.quantizedIvfSearchFromStore(s, "q137_store", corpus, qs,
          "vec_id", "embedding", codebook, nProbe = codebook.size, k = 5,
          rerankK = 0, candidateFilter = Some(col("label").isin(2, 5)))
        .orderBy(col("query_id"), col("rnk"))
    },
    Some("""WITH ex AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
              CAST(unnest(range(len(embedding))) AS BIGINT) AS i FROM embeddings),
            n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
            dots AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id, sum(a.v * b.v) AS dp
              FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < 20 AND b.vec_id >= 20
                AND b.label IN (2, 5)
              GROUP BY a.vec_id, b.vec_id),
            sims AS (SELECT query_id, cand_id, dp / (na.nrm * nb.nrm) AS sim
              FROM dots JOIN n na ON na.vec_id = query_id JOIN n nb ON nb.vec_id = cand_id),
            ranked AS (SELECT query_id, cand_id, sim, CAST(row_number() OVER
              (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk FROM sims)
            SELECT query_id, cand_id, round(sim, 6) AS cosine_sim, rnk
            FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk"""))

  /** Batched workload over base ∪ delta log
    * ([[graft.ops.Terms.bm25BatchSearchWithDeltas]]) — the serving matrix
    * closed: the q135 multi-query plan shape over a q131-style base index
    * PLUS an uncompacted streaming delta batch. Base indexes 4/5 of the
    * corpus, the delta batch lands the rest, so base ∪ delta is EXACTLY
    * the full corpus and the q135 oracle applies verbatim — which is the
    * point: delta reads are score-identical to a rebuild. */
  private val q138 = Q("q138_bm25_batch_delta",
    (s, d) => {
      val docs = documents(s, d)
      val deltaDir = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "q138_delta")
      val fs = deltaDir.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(deltaDir)) fs.delete(deltaDir, true) // stale prior runs
      Terms.writeBm25Store(docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", "q138_store")
      Terms.writeBm25DeltaBatch(docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", deltaDir.toString, batchId = 0L)
      import s.implicits._
      val workload = Seq(
        (0L, "vector"), (0L, "join"),
        (1L, "data"), (1L, "stream"), (1L, "filter"),
        (2L, "query")).toDF("query_id", "term")
      Terms.bm25BatchSearchWithDeltas(s, "q138_store", deltaDir.toString,
          workload, k = 10)
        .orderBy(col("query_id"), col("rnk"))
    },
    q135.oracle)

  /** IVF delta-log serving ([[graft.ops.Similarity.writeIvfDeltaBatch]] /
    * [[graft.ops.Similarity.ivfSearchFromStoreWithDeltas]]): the ANN twin
    * of q138 — the bucketed base indexes 2/3 of the corpus, one delta
    * batch lands the rest, and the probe unions the log into the
    * bucket-pruned candidate slice. Each vector sits in exactly one cell
    * under the shared codebook, so base ∪ delta scores EXACTLY as a
    * rebuilt store; declared at the nProbe = nCells exactness point where
    * that store equals brute-force cosine top-k — the standard oracle.
    * The exactly-once fold (src provenance, kill-between-steps spec) is
    * [[graft.ops.Similarity.compactIvfDelta]]. */
  private val q139 = Q("q139_ann_delta",
    (s, d) => {
      val emb = embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 20)
      val corpus = emb.filter(col("vec_id") >= 20)
      val codebook = fixedCodebook(emb)
      val deltaDir = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "q139_delta")
      val fs = deltaDir.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(deltaDir)) fs.delete(deltaDir, true) // stale prior runs
      Similarity.writeIvfStore(corpus.filter(col("vec_id") % 3 =!= 0),
        "vec_id", "embedding", codebook, "q139_store",
        numBuckets = codebook.size)
      Similarity.writeIvfDeltaBatch(corpus.filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", codebook, deltaDir.toString, batchId = 0L)
      Similarity.ivfSearchFromStoreWithDeltas(s, "q139_store",
          deltaDir.toString, qs, "vec_id", "embedding", codebook,
          nProbe = codebook.size, k = 5)
        .orderBy(col("query_id"), col("rnk"))
    },
    Some("""WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
              CAST(unnest(range(len(embedding))) AS BIGINT) AS i FROM embeddings),
            n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
            dots AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id, sum(a.v * b.v) AS dp
              FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < 20 AND b.vec_id >= 20
              GROUP BY a.vec_id, b.vec_id),
            sims AS (SELECT query_id, cand_id, dp / (na.nrm * nb.nrm) AS sim
              FROM dots JOIN n na ON na.vec_id = query_id JOIN n nb ON nb.vec_id = cand_id),
            ranked AS (SELECT query_id, cand_id, sim, CAST(row_number() OVER
              (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk FROM sims)
            SELECT query_id, cand_id, round(sim, 6) AS cosine_sim, rnk
            FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk"""))

  /** The full serving composite: QUANTIZED store + DELTA log + metadata
    * FILTER + batched workload, in one declared query — int8 base over
    * 2/3 of the corpus, one quantized delta batch over the rest
    * ([[graft.ops.Similarity.writeQuantizedIvfDeltaBatch]]), label
    * IN-predicate applied to the unioned bucket-pruned slice before any
    * dequantized scoring, full re-rank. At nProbe = nCells, rerankK = 0
    * the answer provably equals brute-force cosine top-k over the
    * label-filtered corpus — the q137 oracle with a different label set. */
  private val q140 = Q("q140_quantized_delta",
    (s, d) => {
      val emb = embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 20)
      val corpus = emb.filter(col("vec_id") >= 20)
      val codebook = fixedCodebook(emb)
      val deltaDir = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "q140_delta")
      val fs = deltaDir.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(deltaDir)) fs.delete(deltaDir, true) // stale prior runs
      Similarity.writeQuantizedIvfStore(corpus.filter(col("vec_id") % 3 =!= 0),
        "vec_id", "embedding", codebook, "q140_store",
        numBuckets = codebook.size, metaCols = Seq("label"))
      Similarity.writeQuantizedIvfDeltaBatch(corpus.filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", codebook, deltaDir.toString, batchId = 0L,
        metaCols = Seq("label"))
      Similarity.quantizedIvfSearchFromStoreWithDeltas(s, "q140_store",
          deltaDir.toString, corpus, qs, "vec_id", "embedding", codebook,
          nProbe = codebook.size, k = 5, rerankK = 0,
          candidateFilter = Some(col("label").isin(1, 4)))
        .orderBy(col("query_id"), col("rnk"))
    },
    Some("""WITH ex AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
              CAST(unnest(range(len(embedding))) AS BIGINT) AS i FROM embeddings),
            n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
            dots AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id, sum(a.v * b.v) AS dp
              FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < 20 AND b.vec_id >= 20
                AND b.label IN (1, 4)
              GROUP BY a.vec_id, b.vec_id),
            sims AS (SELECT query_id, cand_id, dp / (na.nrm * nb.nrm) AS sim
              FROM dots JOIN n na ON na.vec_id = query_id JOIN n nb ON nb.vec_id = cand_id),
            ranked AS (SELECT query_id, cand_id, sim, CAST(row_number() OVER
              (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk FROM sims)
            SELECT query_id, cand_id, round(sim, 6) AS cosine_sim, rnk
            FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk"""))

  /** Mergeable PCA fit ([[graft.ops.Projection.writeFitBatch]] /
    * [[graft.ops.Projection.covarianceStatsFromStore]]): the model-fitting
    * leg of the incremental-statistics family — four per-batch moment
    * summaries (count, Σv, Σvvᵀ; one 1-row parquet each,
    * corpus-size-independent) fold into the corpus covariance with NO
    * rescan of any batch, and the folded fit must answer the SAME q114
    * verification contract with the SAME oracle: the moments are a
    * monoid, so fold == one-shot exactly (last-ulp wiggle absorbed by the
    * 6-dp round, as for every distributed double sum). A growing
    * embedding corpus keeps its PCA refreshable at O(batches) cost. */
  private val q141 = Q("q141_pca_store",
    (s, d) => {
      val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val dir = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "q141_moments")
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(dir)) fs.delete(dir, true) // stale batches from prior runs
      (0L until 4L).foreach { b =>
        Projection.writeFitBatch(
          emb.filter(pmod(col("vec_id"), lit(4L)) === b),
          "embedding", dim = 64, dir.toString, b)
      }
      val (_, mean, cov) = Projection.covarianceStatsFromStore(s, dir.toString, 64)
      pcaStatRows(s, emb, mean, cov)
    },
    q114.oracle)

  // ------------------------------------------- exactly-replayable k-means

  /** Shared DuckDB prelude for the k-means family: quantize (floor(v·1e4)
    * as BIGINT), seed with the 8 lowest-id vectors, then one unrolled
    * Lloyd sweep — every value integer-exact, so the oracle replays
    * [[Cluster]] bit-for-bit (tie-breaks ORDER BY dist, cell on both
    * sides; centroid update floor(Σq/n) on both sides). */
  private val SqlKmeansSweep1 =
    """WITH q AS (
      |  SELECT vec_id,
      |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS v,
      |         CAST(unnest(range(len(embedding))) AS BIGINT) AS i
      |  FROM embeddings),
      |seed AS (SELECT DISTINCT vec_id FROM q ORDER BY vec_id LIMIT 8),
      |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, vec_id FROM seed),
      |cent0 AS (SELECT c0.cell, q.i, q.v AS c FROM c0 JOIN q USING (vec_id)),
      |d1 AS (SELECT q.vec_id, cent0.cell, sum((q.v - cent0.c) * (q.v - cent0.c)) AS dist
      |       FROM q JOIN cent0 ON q.i = cent0.i GROUP BY q.vec_id, cent0.cell),
      |a1 AS (SELECT vec_id, cell FROM
      |        (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d1)
      |       WHERE rn = 1)""".stripMargin

  /** Second unrolled sweep on top of [[SqlKmeansSweep1]]. */
  private val SqlKmeansSweep2 =
    """cent1 AS (SELECT a1.cell, q.i,
      |            CAST(floor(CAST(sum(q.v) AS DOUBLE) / count(*)) AS BIGINT) AS c
      |          FROM a1 JOIN q USING (vec_id) GROUP BY a1.cell, q.i),
      |d2 AS (SELECT q.vec_id, cent1.cell, sum((q.v - cent1.c) * (q.v - cent1.c)) AS dist
      |       FROM q JOIN cent1 ON q.i = cent1.i GROUP BY q.vec_id, cent1.cell),
      |a2 AS (SELECT vec_id, cell FROM
      |        (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d2)
      |       WHERE rn = 1)""".stripMargin

  /** Distributed Lloyd's k-means, value-exact against the oracle: two
    * sweeps from the lowest-id seed codebook over integer-quantized
    * embeddings ([[Cluster.fit]] — the oracle-checkable twin of the MLlib
    * path behind [[Similarity.kmeansCodebook]]). Output = the full fitted
    * state: every centroid coordinate (quantized units) + final cell
    * sizes. Per sweep: one narrow scan, map-side LongVectorSum partials,
    * k×(d+1) longs to the driver — no corpus-sized collect anywhere. */
  private val q142 = Q("q142_kmeans_fit",
    (s, d) => {
      val fitted = Cluster.fit(embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 2, scale = 10000L)
      Cluster.fitStats(s, fitted).orderBy(col("cell"), col("dim"))
    },
    Some(s"""$SqlKmeansSweep1,
            |$SqlKmeansSweep2,
            |cent2 AS (SELECT a2.cell, q.i,
            |            CAST(floor(CAST(sum(q.v) AS DOUBLE) / count(*)) AS BIGINT) AS c,
            |            CAST(count(*) AS BIGINT) AS n
            |          FROM a2 JOIN q USING (vec_id) GROUP BY a2.cell, q.i)
            |SELECT cell, i AS dim, c AS centroid_q, n AS n_assigned
            |FROM cent2 ORDER BY cell, dim""".stripMargin))

  /** Cluster-balanced subsample: assign every vector under the q142 fit,
    * then keep ceil(sqrt(n_cell)) per cell — the curation move that caps
    * dominant semantic clusters while keeping the tail. Deterministic
    * draw order (vec_id) for the oracle; production passes a seeded hash.
    * Plans as a rank-limit window over the assignment — no extra scan of
    * the corpus beyond q142's sweeps. */
  private val q143 = Q("q143_cluster_sample",
    (s, d) => {
      val emb = embeddings(s, d)
      val fitted = Cluster.fit(emb, "vec_id", "embedding",
        k = 8, iters = 2, scale = 10000L)
      val assigned = Cluster.assign(emb, "vec_id", "embedding", fitted)
      Cluster.balancedSample(assigned, "cell", col("id"),
          ceil(sqrt(col("n_cell"))).cast("long"))
        .select(col("cell"), col("id").as("vec_id"))
        .orderBy(col("cell"), col("vec_id"))
    },
    Some(s"""$SqlKmeansSweep1,
            |$SqlKmeansSweep2,
            |cent2 AS (SELECT a2.cell, q.i,
            |            CAST(floor(CAST(sum(q.v) AS DOUBLE) / count(*)) AS BIGINT) AS c
            |          FROM a2 JOIN q USING (vec_id) GROUP BY a2.cell, q.i),
            |d3 AS (SELECT q.vec_id, cent2.cell, sum((q.v - cent2.c) * (q.v - cent2.c)) AS dist
            |       FROM q JOIN cent2 ON q.i = cent2.i GROUP BY q.vec_id, cent2.cell),
            |a3 AS (SELECT vec_id, cell FROM
            |        (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d3)
            |       WHERE rn = 1),
            |n3 AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM a3 GROUP BY cell),
            |sel AS (SELECT a3.vec_id, a3.cell,
            |         row_number() OVER (PARTITION BY a3.cell ORDER BY a3.vec_id) AS rn, n3.n
            |        FROM a3 JOIN n3 USING (cell))
            |SELECT cell, vec_id FROM sel WHERE rn <= CAST(ceil(sqrt(n)) AS BIGINT)
            |ORDER BY cell, vec_id""".stripMargin))

  /** Mergeable k-means moment store: four disjoint batches each write
    * per-cell (n, Σq) moments against the FIXED seed codebook; the fold
    * ([[Cluster.centroidsFromMoments]]) reads k rows per batch and must
    * equal the one-shot sweep bit-for-bit (long sums are order-free).
    * The centroid-refresh shape: new data lands as a moment batch, the
    * codebook refreshes without rescanning old data. Oracle = the single
    * unrolled sweep over the union. */
  private val q144 = Q("q144_kmeans_moments",
    (s, d) => {
      val emb = embeddings(s, d)
      val seedCents = Cluster.initCentroids(emb, "vec_id", "embedding",
        k = 8, scale = 10000L)
      val dir = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "q144_moments")
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(dir)) fs.delete(dir, true) // stale batches from prior runs
      (0L until 4L).foreach { b =>
        Cluster.writeMomentBatch(
          emb.filter(pmod(col("vec_id"), lit(4L)) === b),
          "vec_id", "embedding", seedCents, 10000L, dir.toString, b)
      }
      val folded = Cluster.centroidsFromMoments(s, dir.toString, 10000L)
      Cluster.fitStats(s, folded).orderBy(col("cell"), col("dim"))
    },
    Some(s"""$SqlKmeansSweep1,
            |cent1n AS (SELECT a1.cell, q.i,
            |            CAST(floor(CAST(sum(q.v) AS DOUBLE) / count(*)) AS BIGINT) AS c,
            |            CAST(count(*) AS BIGINT) AS n
            |          FROM a1 JOIN q USING (vec_id) GROUP BY a1.cell, q.i)
            |SELECT cell, i AS dim, c AS centroid_q, n AS n_assigned
            |FROM cent1n ORDER BY cell, dim""".stripMargin))

  /** Greedy sequence packing into 256-token training blocks, 4 shards
    * ([[Packing.greedyPack]]): the per-document (shard, block, offset)
    * assignment — an honest sequential recurrence per shard (a
    * cumsum/floor bucketing would mis-split straddling docs), so the
    * oracle replays it with a recursive CTE and the engine with a
    * per-partition O(1)-memory fold after one shuffle on shard. The
    * training-batch construction step: blocks are context windows, fill
    * rate is token waste at trainer time. */
  private val q145 = Q("q145_seq_pack",
    (s, d) => Packing.greedyPack(documents(s, d), "doc_id",
        pmod(col("doc_id"), lit(4L)), col("doc_id"),
        TextOps.wsTokenCount(col("text")), budget = 256L)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id")),
    Some("""WITH RECURSIVE w AS (
           |  SELECT doc_id, doc_id % 4 AS shard,
           |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
           |         CAST(row_number() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) AS BIGINT) AS rn
           |  FROM documents),
           |r AS (
           |  SELECT shard, doc_id, n_tok, rn, 0::BIGINT AS block, 0::BIGINT AS off, n_tok AS fill
           |  FROM w WHERE rn = 1
           |  UNION ALL
           |  SELECT w.shard, w.doc_id, w.n_tok, w.rn,
           |         CASE WHEN r.fill + w.n_tok > 256 THEN r.block + 1 ELSE r.block END,
           |         CASE WHEN r.fill + w.n_tok > 256 THEN 0::BIGINT ELSE r.fill END,
           |         CASE WHEN r.fill + w.n_tok > 256 THEN w.n_tok ELSE r.fill + w.n_tok END
           |  FROM w JOIN r ON w.shard = r.shard AND w.rn = r.rn + 1)
           |SELECT doc_id, shard, block, off, n_tok
           |FROM r ORDER BY doc_id""".stripMargin))

  /** Standing exact-dedup digest store ([[Dedup.writeDigestStore]]): the
    * corpus's distinct md5 digests persist bucketed by hash; a new crawl
    * batch dedups against ALL history by probing the store — batch-sized
    * work, the corpus never rescanned (the incremental production shape of
    * q40). Output: every batch doc with its corpus-dup flag and canonical
    * keep verdict. */
  private val q146 = Q("q146_digest_store",
    (s, d) => {
      val docs = documents(s, d)
      Stores.dropStore(s, "q146_store")
      Dedup.writeDigestStore(docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L),
        "doc_id", "text", "q146_store")
      Dedup.dedupAgainstStore(s, "q146_store",
          docs.filter(pmod(col("doc_id"), lit(5L)) === 0L), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some("""WITH ch AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 <> 0),
           |b AS (SELECT doc_id, md5(text) AS text_hash FROM documents WHERE doc_id % 5 = 0),
           |j AS (SELECT b.doc_id, b.text_hash, (ch.h IS NOT NULL) AS dup_of_corpus,
           |        row_number() OVER (PARTITION BY b.text_hash ORDER BY b.doc_id) AS rn
           |      FROM b LEFT JOIN ch ON ch.h = b.text_hash)
           |SELECT doc_id, text_hash, dup_of_corpus,
           |       (NOT dup_of_corpus AND rn = 1) AS keep
           |FROM j ORDER BY doc_id""".stripMargin))

  /** End-to-end training-prep composition: curation gate (Gopher-style
    * token window, 12–80 — drops ~22% of this corpus) → greedy packing of
    * the SURVIVORS into 256-token blocks → block-level fill/waste
    * accounting. Declares that the operators COMPOSE: the packer's walk
    * order is the post-filter document order, so the oracle must thread
    * the same survivor set through its recursion — any divergence in the
    * gate surfaces as a packing mismatch downstream. One narrow filter +
    * q145's one-shuffle pack + a block-local aggregate. */
  private val q147 = Q("q147_curated_pack",
    (s, d) => {
      val nTok = TextOps.wsTokenCount(col("text")).cast("long")
      val kept = documents(s, d).filter(nTok.between(12L, 80L))
      val packed = Packing.greedyPack(kept, "doc_id",
        pmod(col("doc_id"), lit(4L)), col("doc_id"), nTok, budget = 256L)
      Packing.packStats(packed, budget = 256L)
        .orderBy(col("shard"), col("block"))
    },
    Some("""WITH RECURSIVE kept AS MATERIALIZED (
           |  SELECT doc_id,
           |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
           |  FROM documents
           |  WHERE len(regexp_split_to_array(trim(text), '\s+')) BETWEEN 12 AND 80),
           |w AS MATERIALIZED (SELECT doc_id, doc_id % 4 AS shard, n_tok,
           |        CAST(row_number() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) AS BIGINT) AS rn
           |      FROM kept),
           |r AS (
           |  SELECT shard, doc_id, n_tok, rn, 0::BIGINT AS block, n_tok AS fill
           |  FROM w WHERE rn = 1
           |  UNION ALL
           |  SELECT w.shard, w.doc_id, w.n_tok, w.rn,
           |         CASE WHEN r.fill + w.n_tok > 256 THEN r.block + 1 ELSE r.block END,
           |         CASE WHEN r.fill + w.n_tok > 256 THEN w.n_tok ELSE r.fill + w.n_tok END
           |  FROM w JOIN r ON w.shard = r.shard AND w.rn = r.rn + 1)
           |SELECT shard, block, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_tok) AS BIGINT) AS fill,
           |       greatest(256 - CAST(sum(n_tok) AS BIGINT), 0) AS waste
           |FROM r GROUP BY shard, block ORDER BY shard, block""".stripMargin))

  // --------------------------------------------- keyed CDC store (q148-149)

  /** Shared CDC history for the q148/q149 pair, derived deterministically
    * from `orders`: batch 0 loads the dimension, batch 1 upserts a price
    * adjustment (+10.0 — exact in IEEE double, so the oracle replays it
    * bit-for-bit), batch 2 takes down every 11≡3 key, batch 3 re-prices a
    * 13≡1 slice (including keys batch 2 deleted — exercising
    * delete-then-reinsert). */
  private def buildOrdersCdc(s: org.apache.spark.sql.SparkSession, d: String,
                             store: String): String = {
    val path = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), store).toString
    KeyedStore.dropKeyedStore(s, path)
    val ord = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), col("o_orderstatus"))
    KeyedStore.writeKeyedBatch(ord, "o_orderkey", path, 0L)
    KeyedStore.writeKeyedBatch(
      ord.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
        .withColumn("o_orderstatus", lit("U")),
      "o_orderkey", path, 1L)
    KeyedStore.deleteKeyedBatch(
      ord.filter(col("o_orderkey") % 11 === 3).select(col("o_orderkey")),
      "o_orderkey", path, 2L)
    KeyedStore.writeKeyedBatch(
      ord.filter(col("o_orderkey") % 13 === 1)
        .withColumn("o_totalprice", lit(0.0))
        .withColumn("o_orderstatus", lit("Z")),
      "o_orderkey", path, 3L)
    path
  }

  /** The SQL replay of [[buildOrdersCdc]]'s batch log, shared by the
    * latest/snapshot/history oracles. */
  private val sqlOrdersCdcLog: String =
    """SELECT o_orderkey AS id, 0 AS batch, 'u' AS op, o_custkey,
      |       o_totalprice, o_orderstatus FROM orders
      |UNION ALL
      |SELECT o_orderkey, 1, 'u', o_custkey, o_totalprice + 10.0, 'U'
      |FROM orders WHERE o_orderkey % 7 = 0
      |UNION ALL
      |SELECT o_orderkey, 2, 'd', NULL, NULL, NULL
      |FROM orders WHERE o_orderkey % 11 = 3
      |UNION ALL
      |SELECT o_orderkey, 3, 'u', o_custkey, 0.0, 'Z'
      |FROM orders WHERE o_orderkey % 13 = 1""".stripMargin

  /** The q148/q149 oracle: replay the CDC batches as SQL unions and take
    * the highest batch ≤ `asOf` per key (latest-wins), dropping keys whose
    * winner is a delete. */
  private def sqlOrdersCdcLatest(asOf: Int): String =
    s"""WITH log AS (
       |$sqlOrdersCdcLog),
       |latest AS (SELECT *, row_number() OVER
       |    (PARTITION BY id ORDER BY batch DESC) AS rn
       |  FROM log WHERE batch <= $asOf)
       |SELECT id, CAST(batch AS BIGINT) AS last_batch, o_custkey,
       |       round(o_totalprice, 4) AS price, o_orderstatus AS status
       |FROM latest WHERE rn = 1 AND op = 'u' ORDER BY id""".stripMargin

  /** Keyed CDC store, current state ([[graft.ops.KeyedStore]]): four
    * upsert/delete batches over the orders dimension, compacted at
    * horizon 1, read merge-on-read. The read plan is the scale story:
    * the compacted base is anti-joined against the BROADCAST set of
    * log-touched ids and never shuffles (KeyedStoreSpec pins the plan);
    * merge cost is O(live log), zero when the log is empty. */
  private val q148 = Q("q148_keyed_upsert",
    (s, d) => {
      val path = buildOrdersCdc(s, d, "q148_store")
      KeyedStore.compactKeyedStore(s, path, upTo = 1L)
      KeyedStore.readLatest(s, path)
        .select(col("id"), col("batch").as("last_batch"), col("o_custkey"),
          round(col("o_totalprice"), 4).as("price"),
          col("o_orderstatus").as("status"))
        .orderBy(col("id"))
    },
    Some(sqlOrdersCdcLatest(asOf = 3)))

  /** Snapshot ("time travel") read of the same CDC history at batch 2 —
    * after the takedown, before the batch-3 re-insert — served from
    * base(≤1) ∪ log batch 2 only. The horizon contract is loud: asOf
    * below the compaction horizon throws instead of answering from
    * trimmed history (KeyedStoreSpec). */
  private val q149 = Q("q149_time_travel",
    (s, d) => {
      val path = buildOrdersCdc(s, d, "q149_store")
      KeyedStore.compactKeyedStore(s, path, upTo = 1L)
      KeyedStore.readLatest(s, path, asOf = Some(2L))
        .select(col("id"), col("batch").as("last_batch"), col("o_custkey"),
          round(col("o_totalprice"), 4).as("price"),
          col("o_orderstatus").as("status"))
        .orderBy(col("id"))
    },
    Some(sqlOrdersCdcLatest(asOf = 2)))

  // ------------------------------------- behavioral analytics (q150-152)

  /** Preference-pair mining ([[graft.ops.Behavior.preferencePairs]]): per
    * user the argmax-value event against the argmin, gap ≥ 100 — the
    * (u, i⁺, i⁻) construction a BPR/DPO trainer consumes. One exchange on
    * user_id; argmax/argmin are struct min/max with map-side combine and
    * replayable tie-breaks (equal values → smallest event_id, both sides). */
  private val q150 = Q("q150_pref_pairs",
    (s, d) => Behavior.preferencePairs(events(s, d), "user_id", "event_id",
        col("value"), minGap = 100.0)
      .orderBy(col("user_id")),
    Some("""WITH r AS (SELECT user_id, event_id, value,
           |  row_number() OVER (PARTITION BY user_id
           |    ORDER BY value DESC, event_id) AS rhi,
           |  row_number() OVER (PARTITION BY user_id
           |    ORDER BY value ASC, event_id) AS rlo
           |  FROM events),
           |hi AS (SELECT user_id, event_id AS chosen_id, value AS vhi
           |       FROM r WHERE rhi = 1),
           |lo AS (SELECT user_id, event_id AS rejected_id, value AS vlo
           |       FROM r WHERE rlo = 1),
           |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
           |      FROM events GROUP BY 1)
           |SELECT user_id, chosen_id, rejected_id,
           |       round(vhi - vlo, 6) AS gap, n_events
           |FROM hi JOIN lo USING (user_id) JOIN n USING (user_id)
           |WHERE vhi - vlo >= 100.0 ORDER BY user_id""".stripMargin))

  /** Strictly-ordered conversion funnel
    * ([[graft.ops.Behavior.orderedFunnel]]): view → click → purchase,
    * each stage counting only strictly after the previous stage's first
    * hit. k−1 co-keyed (entity, ts)-only joins; no windows, no
    * collect_list — hot users carry O(1) state. */
  private val q151 = Q("q151_event_funnel",
    (s, d) => {
      val f = Behavior.orderedFunnel(events(s, d), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"))
      f.select(col("user_id"), col("stage_reached"),
          date_format(col("t_1"), "yyyy-MM-dd HH:mm:ss").as("t1"),
          date_format(col("t_2"), "yyyy-MM-dd HH:mm:ss").as("t2"),
          date_format(col("t_3"), "yyyy-MM-dd HH:mm:ss").as("t3"))
        .orderBy(col("user_id"))
    },
    Some("""WITH s1 AS (SELECT user_id, min(ts) AS ta FROM events
           |            WHERE event_type = 'view' GROUP BY 1),
           |s2 AS (SELECT e.user_id, min(e.ts) AS tb FROM events e
           |       JOIN s1 ON e.user_id = s1.user_id
           |       WHERE e.event_type = 'click' AND e.ts > s1.ta GROUP BY 1),
           |s3 AS (SELECT e.user_id, min(e.ts) AS tc FROM events e
           |       JOIN s2 ON e.user_id = s2.user_id
           |       WHERE e.event_type = 'purchase' AND e.ts > s2.tb GROUP BY 1)
           |SELECT s1.user_id,
           |  1 + CAST(tb IS NOT NULL AS INT) + CAST(tc IS NOT NULL AS INT)
           |    AS stage_reached,
           |  strftime(ta, '%Y-%m-%d %H:%M:%S') AS t1,
           |  strftime(tb, '%Y-%m-%d %H:%M:%S') AS t2,
           |  strftime(tc, '%Y-%m-%d %H:%M:%S') AS t3
           |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
           |ORDER BY s1.user_id""".stripMargin))

  /** Daily cohort retention ([[graft.ops.Behavior.cohortRetention]]):
    * users bucketed by first-event day, activity counted per day offset.
    * Exact integer day arithmetic replays on both engines; the
    * (user, day) distinct collapses activity BEFORE the join. */
  private val q152 = Q("q152_cohort_retention",
    (s, d) => Behavior.cohortRetention(events(s, d), "user_id", "ts", 86400L)
      .orderBy(col("cohort"), col("k")),
    Some("""WITH f AS (SELECT user_id,
           |    CAST(floor(epoch_us(min(ts)) / 86400000000.0) AS BIGINT) AS cohort
           |  FROM events GROUP BY 1),
           |a AS (SELECT DISTINCT user_id,
           |    CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS period
           |  FROM events)
           |SELECT cohort, period - cohort AS k, CAST(count(*) AS BIGINT) AS n_active
           |FROM a JOIN f USING (user_id)
           |GROUP BY 1, 2 ORDER BY cohort, k""".stripMargin))

  /** Ordered session digests ([[graft.ops.Behavior.sessionDigest]]):
    * 30-minute gap sessions reduced to (count, exact duration, md5 path
    * fingerprint) — session-shape analytics over a 32-char key. The
    * group order is pinned by sorting (ts, id, type) structs, never by
    * collect arrival order, so the fingerprint is partitioning-proof
    * (and the oracle's ORDER BY inside string_agg replays it). */
  private val q153 = Q("q153_session_digest",
    (s, d) => Behavior.sessionDigest(events(s, d), "user_id", "ts",
        "event_id", "event_type", gapSeconds = 1800.0)
      .orderBy(col("user_id"), col("session_id")),
    Some("""WITH g AS (SELECT user_id, event_id, event_type, ts,
           |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER
           |      (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
           |    THEN 1 ELSE 0 END AS ns FROM events),
           |s AS (SELECT user_id, event_id, event_type, ts,
           |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      AS session_id FROM g)
           |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT) AS duration_us,
           |  md5(string_agg(event_type, '|' ORDER BY ts, event_id)) AS fp
           |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin))

  /** SCD-type-2 history of the CDC store
    * ([[graft.ops.KeyedStore.history]]): every version of every key with
    * its validity interval — deletes close intervals, re-inserts open
    * fresh ones, the current version has valid_to NULL. One id-keyed
    * window over versions (the honest minimum for interval construction);
    * run at compaction cadence, not per-serve. */
  private val q154 = Q("q154_scd2_history",
    (s, d) => {
      val path = buildOrdersCdc(s, d, "q154_store")
      KeyedStore.history(s, path)
        .select(col("id"), col("valid_from"), col("valid_to"),
          col("o_custkey"), round(col("o_totalprice"), 4).as("price"),
          col("o_orderstatus").as("status"))
        .orderBy(col("id"), col("valid_from"))
    },
    Some(s"""WITH log AS (
            |$sqlOrdersCdcLog),
            |h AS (SELECT *, lead(batch) OVER
            |    (PARTITION BY id ORDER BY batch) AS nxt FROM log)
            |SELECT id, CAST(batch AS BIGINT) AS valid_from,
            |       CAST(nxt AS BIGINT) AS valid_to, o_custkey,
            |       round(o_totalprice, 4) AS price, o_orderstatus AS status
            |FROM h WHERE op = 'u' ORDER BY id, valid_from""".stripMargin))

  /** Stratified k-fold CV assignment ([[graft.ops.Relational.kFoldAssign]]):
    * exact round-robin folds per language stratum (balance ±1) alongside
    * the window-free LCG fold for corpus-scale assignment — both columns
    * engine-replayable, the oracle replays the glibc constants. */
  private val q155 = Q("q155_grouped_kfold",
    (s, d) => Relational.kFoldAssign(documents(s, d), Seq(col("lang")),
        col("doc_id"), col("doc_id"), k = 5)
      .select(col("doc_id"), col("lang"), col("fold"), col("fold_hash"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, lang,
           |  CAST((row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1)
           |    % 5 AS BIGINT) AS fold,
           |  CAST(((((doc_id % 2147483648) * 1103515245 + 12345)
           |    % 2147483648) // 65536) % 5 AS BIGINT) AS fold_hash
           |FROM documents ORDER BY doc_id""".stripMargin))

  // ------------------------------------- OLAP reshape surface (q156-159)

  /** Hierarchical subtotals via ROLLUP — (status, priority) revenue with
    * per-status subtotals and a grand total in ONE aggregation pass
    * (Spark plans rollup as a single Expand + hash aggregate, not three
    * scans). Subtotal keys are coalesced to 'ALL' so the output is
    * engine-agnostic (no NULL-ordering knife edges) and collision-free
    * (no real key is 'ALL'). */
  private val q156 = Q("q156_rollup_revenue",
    (s, d) => orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("revenue"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("revenue"))
      .orderBy(col("status"), col("priority")),
    Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
           |       coalesce(o_orderpriority, 'ALL') AS priority,
           |       CAST(count(*) AS BIGINT) AS n,
           |       round(sum(o_totalprice), 4) AS revenue
           |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
           |ORDER BY status, priority""".stripMargin))

  /** Long-to-wide PIVOT: per-user event-type counts as columns — the
    * feature-table reshape a trainer consumes. Pivot values are PINNED
    * (never inferred — inference is a second scan AND nondeterministic
    * column order); absent combinations coalesce to 0. One hash
    * aggregate on user_id. */
  private val q157 = Q("q157_pivot_counts",
    (s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      events(s, d).groupBy(col("user_id"))
        .pivot("event_type", types).agg(count(lit(1)))
        .select(col("user_id") +: types.map(t =>
          coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id,
           |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
           |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
           |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
           |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
           |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** Wide-to-long UNPIVOT (melt): lineitem rate metrics to (key, metric,
    * value) rows — the reshape feeding any per-metric distribution
    * profile. Spark's native unpivot is a zero-shuffle Expand (3 output
    * rows per input row in the scan stage). */
  private val q158 = Q("q158_unpivot_metrics",
    (s, d) => lineitem(s, d)
      .filter(col("l_orderkey") % 50 === 0)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .select(col("l_orderkey"), col("l_linenumber"), col("metric"),
        round(col("value"), 4).as("value"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric")),
    Some("""WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 50 = 0)
           |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
           |       round(l_quantity, 4) AS value FROM src
           |UNION ALL
           |SELECT l_orderkey, l_linenumber, 'l_discount', round(l_discount, 4)
           |FROM src
           |UNION ALL
           |SELECT l_orderkey, l_linenumber, 'l_tax', round(l_tax, 4) FROM src
           |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin))

  /** First-order behavioral transition matrix: per-user consecutive
    * event-type pairs in (ts, id) order, counted and normalized into the
    * Markov transition probabilities a session simulator samples from
    * (reference analogue: the A/B simulator's behavior draws,
    * explicit_ratings/ab_test.py). One user-keyed window for the lag,
    * one tiny (from, to) aggregate; probabilities are exact ratios of
    * counts, rounded 6dp on both engines. */
  private val q159 = Q("q159_transition_matrix",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = events(s, d)
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = org.apache.spark.sql.expressions.Window
        .partitionBy(col("from_type"))
      pairs
        .withColumn("p", round(col("n") / sum(col("n")).over(totals), 6))
        .orderBy(col("from_type"), col("to_type"))
    },
    Some("""WITH t AS (SELECT user_id, event_type, lag(event_type) OVER
           |    (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
           |  FROM events),
           |c AS (SELECT from_type, event_type AS to_type,
           |        CAST(count(*) AS BIGINT) AS n
           |      FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2)
           |SELECT from_type, to_type, n,
           |       round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
           |FROM c ORDER BY from_type, to_type""".stripMargin))

  /** Graph random-walk recommendations ([[graft.ops.GraphCF.p3alphaRecs]]):
    * top-10 P3alpha items per user over the customer-supplier interaction
    * graph (orders ⋈ lineitem), transitions quantized to integer
    * fixed-point so the whole 3-hop walk is order-free long arithmetic —
    * bit-identical under any partitioning and in the oracle. The
    * item-item walk matrix broadcasts (catalog-side small-matrix
    * contract, guarded) TRUNCATED to each item's top-20 neighbors by
    * exact integer mass (the KNN neighborhood bound — caps the scoring
    * fanout at edges × 20 instead of edges × |catalog|, measured 5× on
    * this query); seen items leave via anti-join. Histories are capped
    * at each customer's top-50 suppliers by weight (deterministic cut,
    * replayed by the oracle) — bounds the co-walk's Σdeg² intermediate,
    * the leg that spilled 3.1 GB at the ×10 probe uncapped. */
  private val q160 = Q("q160_p3alpha_recs",
    (s, d) => {
      val inter = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      GraphCF.p3alphaRecs(inter, "cust", "supp", k = 10, neighbors = 20,
          maxHistory = 50)
        .orderBy(col("cust"), col("rnk"))
    },
    Some("""WITH e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |  GROUP BY 1, 2),
           |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
           |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
           |  WHERE rh <= 50),
           |du AS (SELECT u, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY 1),
           |di AS (SELECT i, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY 1),
           |pui AS (SELECT e.u, e.i, (w * 10000) // du.d AS p
           |        FROM e JOIN du USING (u)),
           |piu AS (SELECT e.i, e.u, (w * 10000) // di.d AS p
           |        FROM e JOIN di USING (i)),
           |ssf AS (SELECT a.i AS s1, b.i AS s2,
           |          CAST(sum(a.p * b.p) AS BIGINT) AS q
           |        FROM piu a JOIN pui b ON a.u = b.u GROUP BY 1, 2),
           |ss AS (SELECT s1, s2, q FROM (SELECT *, row_number() OVER
           |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM ssf)
           |  WHERE rs <= 20),
           |sc AS (SELECT pui.u, ss.s2, CAST(sum(pui.p * ss.q) AS BIGINT) AS score
           |       FROM pui JOIN ss ON pui.i = ss.s1 GROUP BY 1, 2),
           |unseen AS (SELECT sc.* FROM sc
           |           LEFT JOIN e ON sc.u = e.u AND sc.s2 = e.i
           |           WHERE e.u IS NULL AND sc.score > 0),
           |r AS (SELECT *, CAST(row_number() OVER
           |    (PARTITION BY u ORDER BY score DESC, s2) AS BIGINT) AS rnk
           |  FROM unseen)
           |SELECT u AS cust, s2 AS supp, score, rnk FROM r
           |WHERE rnk <= 10 ORDER BY cust, rnk""".stripMargin))

  /** Exact-integer exponential-decay popularity
    * ([[graft.ops.Behavior.decayedCounts]]): per event type, recency-
    * weighted counts where every weight is a whole power of two (scaled
    * by 2^30) — the decayed sum is order-free long arithmetic, no
    * floating accumulation anywhere. */
  private val q161 = Q("q161_decay_popularity",
    (s, d) => Behavior.decayedCounts(events(s, d), Seq(col("event_type")),
        "ts", windowDays = 30)
      .orderBy(col("event_type")),
    Some("""WITH r AS (SELECT max(ts) AS m FROM events)
           |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CAST(power(2, 30 - floor(
           |    (epoch_us(m) - epoch_us(ts)) / 86400000000.0)) AS BIGINT))
           |    AS BIGINT) AS decayed_scaled,
           |  round(CAST(sum(CAST(power(2, 30 - floor(
           |    (epoch_us(m) - epoch_us(ts)) / 86400000000.0)) AS BIGINT))
           |    AS BIGINT) / power(2, 30), 6) AS decayed
           |FROM events, r GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Offline recommender evaluation, end to end in ONE declared query:
    * time-split the interaction log (train < 2000-01-01 ≤ test), fit
    * P3alpha on train only, score precision@10 against held-out test
    * interactions — the reference's precision/recall evaluation loop
    * (implicit_bpr metrics) composed over the graph recommender. All
    * metrics are exact integer ratios rounded 6dp: evaluated users are
    * those with recs AND test activity; p@10 = hits/10.
    *
    * Plan shape: `recs` is consumed TWICE downstream (hits + the
    * evaluated-user frame), so it is persisted — it is tiny (≤ 10
    * rows/user) while its P3alpha subtree owns the co-walk, the single
    * most expensive leg in the suite; without the persist the subtree
    * executed twice (measured 62 s → the fix halves it). Same cache
    * contract as the recommenders themselves (clear between corpora). */
  private val q162 = Q("q162_rec_eval",
    (s, d) => {
      val cut = lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00"))
      val ordAll = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"))
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      def inter(o: org.apache.spark.sql.DataFrame) =
        o.join(li, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val recs = GraphCF.p3alphaRecs(
        inter(ordAll.filter(col("o_orderdate") < cut)),
        "cust", "supp", k = 10, neighbors = 20, maxHistory = 50)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val test = inter(ordAll.filter(col("o_orderdate") >= cut)).distinct()
      val hits = recs.join(test, Seq("cust", "supp"))
        .groupBy(col("cust")).agg(count(lit(1)).as("hits"))
      val evaluated = recs.select(col("cust")).distinct()
        .join(test.select(col("cust")).distinct(), Seq("cust"))
        .join(hits, Seq("cust"), "left")
        .select(col("cust"), coalesce(col("hits"), lit(0L)).as("hits"))
      evaluated.agg(
        count(lit(1)).as("n_users"),
        sum(col("hits")).as("n_hits"),
        round(sum(col("hits")) / (count(lit(1)) * lit(10.0)), 6)
          .as("mean_p_at_10"),
        round(count(when(col("hits") > 0, 1)) / count(lit(1)).cast("double"), 6)
          .as("hit_rate"))
    },
    Some("""WITH tr AS (SELECT o_orderkey, o_custkey FROM orders
           |            WHERE o_orderdate < TIMESTAMP '2000-01-01'),
           |te AS (SELECT DISTINCT o_custkey AS u, l_suppkey AS i
           |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |       WHERE o_orderdate >= TIMESTAMP '2000-01-01'),
           |e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM tr JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
           |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
           |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
           |  WHERE rh <= 50),
           |du AS (SELECT u, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY 1),
           |di AS (SELECT i, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY 1),
           |pui AS (SELECT e.u, e.i, (w * 10000) // du.d AS p
           |        FROM e JOIN du USING (u)),
           |piu AS (SELECT e.i, e.u, (w * 10000) // di.d AS p
           |        FROM e JOIN di USING (i)),
           |ssf AS (SELECT a.i AS s1, b.i AS s2,
           |          CAST(sum(a.p * b.p) AS BIGINT) AS q
           |        FROM piu a JOIN pui b ON a.u = b.u GROUP BY 1, 2),
           |ss AS (SELECT s1, s2, q FROM (SELECT *, row_number() OVER
           |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM ssf)
           |  WHERE rs <= 20),
           |sc AS (SELECT pui.u, ss.s2, CAST(sum(pui.p * ss.q) AS BIGINT) AS score
           |       FROM pui JOIN ss ON pui.i = ss.s1 GROUP BY 1, 2),
           |unseen AS (SELECT sc.* FROM sc
           |           LEFT JOIN e ON sc.u = e.u AND sc.s2 = e.i
           |           WHERE e.u IS NULL AND sc.score > 0),
           |recs AS (SELECT u, s2 FROM (SELECT *, row_number() OVER
           |    (PARTITION BY u ORDER BY score DESC, s2) AS rn FROM unseen)
           |  WHERE rn <= 10),
           |hits AS (SELECT recs.u, CAST(count(*) AS BIGINT) AS h
           |         FROM recs JOIN te ON recs.u = te.u AND recs.s2 = te.i
           |         GROUP BY 1),
           |ev AS (SELECT ru.u, coalesce(h, 0) AS h
           |       FROM (SELECT DISTINCT u FROM recs) ru
           |       JOIN (SELECT DISTINCT u FROM te) tu ON ru.u = tu.u
           |       LEFT JOIN hits ON ru.u = hits.u)
           |SELECT CAST(count(*) AS BIGINT) AS n_users,
           |       CAST(sum(h) AS BIGINT) AS n_hits,
           |       round(CAST(sum(h) AS BIGINT) / (count(*) * 10.0), 6)
           |         AS mean_p_at_10,
           |       round(count(*) FILTER (h > 0) / CAST(count(*) AS DOUBLE), 6)
           |         AS hit_rate
           |FROM ev""".stripMargin))

  /** ItemKNN-cosine recommendations ([[graft.ops.GraphCF.itemKnnRecs]]):
    * top-10 items per user by truncated item-item cosine over the same
    * customer-supplier interaction graph as q160 — the model-free
    * neighborhood baseline beside the random-walk one. Co-counts and
    * norms are exact long sums; the similarity quantizes ONCE per pair
    * (floor(scale·co/√(nᵢnⱼ)) — a single correctly-rounded IEEE
    * expression the oracle replays bit-exactly), and user scoring is
    * order-free long arithmetic. Truncated similarity matrix broadcasts;
    * seen items leave via anti-join. Histories capped at top-50 per
    * customer (same replayable cut as q160 — bounds the Σdeg²
    * co-occurrence intermediate). */
  private val q163 = Q("q163_itemknn_recs",
    (s, d) => {
      val inter = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      GraphCF.itemKnnRecs(inter, "cust", "supp", k = 10, neighbors = 20,
          maxHistory = 50)
        .orderBy(col("cust"), col("rnk"))
    },
    Some("""WITH e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |  GROUP BY 1, 2),
           |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
           |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
           |  WHERE rh <= 50),
           |nrm AS (SELECT i, CAST(sum(w * w) AS BIGINT) AS nrm FROM e GROUP BY 1),
           |co AS (SELECT a.i AS s1, b.i AS s2,
           |         CAST(sum(a.w * b.w) AS BIGINT) AS c
           |       FROM e a JOIN e b ON a.u = b.u AND a.i <> b.i GROUP BY 1, 2),
           |sim AS (SELECT s1, s2, CAST(floor(c * 10000 / sqrt(n1.nrm * n2.nrm))
           |          AS BIGINT) AS q
           |        FROM co JOIN nrm n1 ON co.s1 = n1.i
           |                JOIN nrm n2 ON co.s2 = n2.i),
           |ss AS (SELECT s1, s2, q FROM (SELECT *, row_number() OVER
           |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM sim WHERE q > 0)
           |  WHERE rs <= 20),
           |sc AS (SELECT e.u, ss.s2, CAST(sum(e.w * ss.q) AS BIGINT) AS score
           |       FROM e JOIN ss ON e.i = ss.s1 GROUP BY 1, 2),
           |unseen AS (SELECT sc.* FROM sc
           |           LEFT JOIN e ON sc.u = e.u AND sc.s2 = e.i
           |           WHERE e.u IS NULL AND sc.score > 0),
           |r AS (SELECT *, CAST(row_number() OVER
           |    (PARTITION BY u ORDER BY score DESC, s2) AS BIGINT) AS rnk
           |  FROM unseen)
           |SELECT u AS cust, s2 AS supp, score, rnk FROM r
           |WHERE rnk <= 10 ORDER BY cust, rnk""".stripMargin))

  /** Markov next-event serving ([[graft.ops.Behavior.nextEventTopK]]):
    * every user's last event type joined to the 3 most likely next types
    * from the q159 transition matrix. The top-k ranking happens on the
    * TINY (from, to) aggregate BEFORE any per-user work and broadcasts —
    * no per-user ranking, no second window (last event is a struct-max
    * aggregate). */
  private val q164 = Q("q164_next_event",
    (s, d) => Behavior.nextEventTopK(events(s, d), "user_id", "event_type",
        "ts", "event_id", k = 3)
      .orderBy(col("user_id"), col("rnk")),
    Some("""WITH t AS (SELECT user_id, event_type, lag(event_type) OVER
           |    (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
           |  FROM events),
           |c AS (SELECT from_type, event_type AS next_type,
           |        CAST(count(*) AS BIGINT) AS n
           |      FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2),
           |top AS (SELECT * FROM (SELECT from_type, next_type, n,
           |    CAST(row_number() OVER (PARTITION BY from_type
           |      ORDER BY n DESC, next_type) AS BIGINT) AS rnk FROM c)
           |  WHERE rnk <= 3),
           |lastev AS (SELECT user_id, event_type AS last_type FROM
           |    (SELECT user_id, event_type, row_number() OVER
           |       (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           |     FROM events) WHERE rn = 1)
           |SELECT l.user_id, l.last_type, t.next_type, t.n, t.rnk
           |FROM lastev l JOIN top t ON l.last_type = t.from_type
           |ORDER BY l.user_id, t.rnk""".stripMargin))

  /** Rolling engagement series ([[graft.ops.Behavior.rollingActives]]):
    * per calendar day, distinct daily actives (dau), trailing-7-day
    * actives (wau), stickiness = dau/wau. Events collapse to distinct
    * (day, user) FIRST; the day dimension broadcasts into the range
    * join, so the fanout is bounded by active pairs × 7, never raw
    * events. */
  private val q165 = Q("q165_rolling_actives",
    (s, d) => Behavior.rollingActives(events(s, d), "user_id", "ts",
        windowDays = 7)
      .orderBy(col("day")),
    Some("""WITH p AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS e
           |           FROM events),
           |days AS (SELECT DISTINCT d AS day FROM p),
           |dau AS (SELECT d AS day, CAST(count(*) AS BIGINT) AS dau
           |        FROM p GROUP BY 1),
           |wau AS (SELECT day, CAST(count(DISTINCT e) AS BIGINT) AS wau
           |        FROM p JOIN days ON p.d <= day AND p.d > day - 7
           |        GROUP BY 1)
           |SELECT day, dau, wau,
           |       round(dau / CAST(wau AS DOUBLE), 6) AS stickiness
           |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin))

  /** Per-type daily-count trend ([[graft.ops.Behavior.trendSlopes]]):
    * OLS slope/intercept of events-per-day against the epoch-day index,
    * fit from exact integer moment sums — the growth/decay monitor,
    * engine-replayable because the only floating ops are two final
    * correctly-rounded divisions. */
  private val q166 = Q("q166_trend_slope",
    (s, d) => Behavior.trendSlopes(events(s, d), Seq(col("event_type")), "ts")
      .orderBy(col("event_type")),
    Some("""WITH daily AS (SELECT event_type,
           |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
           |      AS BIGINT) AS x,
           |    CAST(count(*) AS BIGINT) AS y
           |  FROM events GROUP BY 1, 2),
           |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |        CAST(sum(x * y) AS BIGINT) AS sxy,
           |        CAST(sum(x * x) AS BIGINT) AS sxx
           |      FROM daily GROUP BY 1)
           |SELECT event_type, n AS n_days,
           |  round((n * sxy - sx * sy)
           |        / CAST(nullif(n * sxx - sx * sx, 0) AS DOUBLE), 6) AS slope,
           |  round((sy * sxx - sx * sxy)
           |        / CAST(nullif(n * sxx - sx * sx, 0) AS DOUBLE), 6) AS intercept
           |FROM m ORDER BY event_type""".stripMargin))

  /** Trailing z-score anomaly flags ([[graft.ops.Behavior.trailingAnomalies]]):
    * each (type, day) daily count scored against the mean/std of the
    * preceding 7 observations (current row excluded; full windows only).
    * Variance forms from the exact integer numerator 7·Σy² − (Σy)², so
    * mean/z are single IEEE expressions the oracle replays bit-exactly;
    * a zero-variance window flags iff the value deviates. */
  private val q167 = Q("q167_anomaly_flags",
    (s, d) => Behavior.trailingAnomalies(events(s, d), Seq(col("event_type")),
        "ts", window = 7, zThreshold = 2.0)
      .orderBy(col("event_type"), col("day")),
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
           |    CAST(count(*) AS BIGINT) AS y
           |  FROM events GROUP BY 1, 2),
           |w AS (SELECT *, count(*) OVER win AS m,
           |        CAST(sum(y) OVER win AS BIGINT) AS s,
           |        CAST(sum(y * y) OVER win AS BIGINT) AS q
           |      FROM daily WINDOW win AS (PARTITION BY event_type
           |        ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
           |SELECT event_type, day, y, round(s / 7.0, 6) AS mean,
           |  CASE WHEN 7 * q - s * s > 0
           |       THEN round((y - s / 7.0) / sqrt((7 * q - s * s) / 49.0), 6)
           |  END AS z,
           |  CASE WHEN 7 * q - s * s > 0
           |       THEN abs((y - s / 7.0) / sqrt((7 * q - s * s) / 49.0)) >= 2.0
           |       ELSE y * 7 <> s END AS is_anomaly
           |FROM w WHERE m = 7 ORDER BY event_type, day""".stripMargin))

  /** COMPARATIVE offline evaluation — both neighborhood recommenders
    * (P3alpha random walk, ItemKNN cosine) scored on the SAME time split
    * in one declared query: the reference's evaluation pattern is
    * comparative (precision over a k-grid, implicit_feedback/prac_2.py:
    * 124-138; the two-model A/B test, explicit_ratings/ab_test.py:73-85),
    * and this is its engine form — one row per model with p@10/hit-rate
    * over the shared 2000-01-01 split. Same metric definitions as q162.
    *
    * Plan shape: the CAPPED EDGE FRAME — not just the raw train split —
    * is built once, persisted, and fed to both model legs through the
    * FromEdges entry points ([[graft.ops.GraphCF.p3alphaRecsFromEdges]] /
    * [[graft.ops.GraphCF.itemKnnRecsFromEdges]]), so the groupBy +
    * history-cap window over the fact table runs ONCE for the two
    * models (it used to run per leg — pure duplicate work on the
    * suite's most expensive query). The test frame is persisted and
    * shared; each model's rec frame (≤ 10 rows/user) is persisted
    * before its hits/evaluated fan-out — nothing expensive executes
    * twice. Histories capped at top-50 (the q160/q163 contract). */
  private val q168 = Q("q168_rec_eval_compare",
    (s, d) => {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val cut = lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00"))
      val ordAll = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"))
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      def inter(o: org.apache.spark.sql.DataFrame) =
        o.join(li, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      // ONE capped edge frame for both models: both FromEdges legs hang
      // the SAME analyzed subplan, so the persist INSIDE the first leg is
      // the single shared cache entry (persisting again here would just
      // register a redundant second copy of the same frame)
      val trainEdges = GraphCF.edges(
        inter(ordAll.filter(col("o_orderdate") < cut)),
        "cust", "supp", maxHistory = 50)
      val test = inter(ordAll.filter(col("o_orderdate") >= cut))
        .distinct().persist(lvl)
      def evalModel(model: String,
                    recs: org.apache.spark.sql.DataFrame) = {
        // persist AND force: each model subtree materializes on its own
        // (≤ 10 rows/user output) before the union action, so the two
        // co-walks never share one heap — the measured 2× staging win
        // q186/q194/q195 already adopted (PLANS.md: 34.2 s → 16.3 s)
        val r = recs.persist(lvl)
        r.count()
        val hits = r.join(test, Seq("cust", "supp"))
          .groupBy(col("cust")).agg(count(lit(1)).as("hits"))
        r.select(col("cust")).distinct()
          .join(test.select(col("cust")).distinct(), Seq("cust"))
          .join(hits, Seq("cust"), "left")
          .select(coalesce(col("hits"), lit(0L)).as("hits"))
          .agg(
            count(lit(1)).as("n_users"),
            sum(col("hits")).as("n_hits"),
            round(sum(col("hits")) / (count(lit(1)) * lit(10.0)), 6)
              .as("mean_p_at_10"),
            round(count(when(col("hits") > 0, 1))
              / count(lit(1)).cast("double"), 6).as("hit_rate"))
          .select(lit(model).as("model"), col("n_users"), col("n_hits"),
            col("mean_p_at_10"), col("hit_rate"))
      }
      evalModel("itemknn", GraphCF.itemKnnRecsFromEdges(trainEdges, "cust",
          "supp", k = 10, neighbors = 20))
        .unionByName(evalModel("p3alpha", GraphCF.p3alphaRecsFromEdges(
          trainEdges, "cust", "supp", k = 10, neighbors = 20)))
        .orderBy(col("model"))
    },
    Some("""WITH tr AS (SELECT o_orderkey, o_custkey FROM orders
           |            WHERE o_orderdate < TIMESTAMP '2000-01-01'),
           |te AS (SELECT DISTINCT o_custkey AS u, l_suppkey AS i
           |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |       WHERE o_orderdate >= TIMESTAMP '2000-01-01'),
           |tu AS (SELECT DISTINCT u FROM te),
           |e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM tr JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
           |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
           |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
           |  WHERE rh <= 50),
           |du AS (SELECT u, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY 1),
           |di AS (SELECT i, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY 1),
           |pui AS (SELECT e.u, e.i, (w * 10000) // du.d AS p
           |        FROM e JOIN du USING (u)),
           |piu AS (SELECT e.i, e.u, (w * 10000) // di.d AS p
           |        FROM e JOIN di USING (i)),
           |ssf AS (SELECT a.i AS s1, b.i AS s2,
           |          CAST(sum(a.p * b.p) AS BIGINT) AS q
           |        FROM piu a JOIN pui b ON a.u = b.u GROUP BY 1, 2),
           |ssp AS (SELECT s1, s2, q FROM (SELECT *, row_number() OVER
           |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM ssf)
           |  WHERE rs <= 20),
           |scp AS (SELECT pui.u, ssp.s2, CAST(sum(pui.p * ssp.q) AS BIGINT) AS sc
           |        FROM pui JOIN ssp ON pui.i = ssp.s1 GROUP BY 1, 2),
           |unp AS (SELECT scp.* FROM scp
           |        LEFT JOIN e ON scp.u = e.u AND scp.s2 = e.i
           |        WHERE e.u IS NULL AND scp.sc > 0),
           |recp AS (SELECT u, s2 FROM (SELECT *, row_number() OVER
           |    (PARTITION BY u ORDER BY sc DESC, s2) AS rn FROM unp)
           |  WHERE rn <= 10),
           |nrm AS (SELECT i, CAST(sum(w * w) AS BIGINT) AS nrm FROM e GROUP BY 1),
           |co AS (SELECT a.i AS s1, b.i AS s2,
           |         CAST(sum(a.w * b.w) AS BIGINT) AS c
           |       FROM e a JOIN e b ON a.u = b.u AND a.i <> b.i GROUP BY 1, 2),
           |sim AS (SELECT s1, s2, CAST(floor(c * 10000 / sqrt(n1.nrm * n2.nrm))
           |          AS BIGINT) AS q
           |        FROM co JOIN nrm n1 ON co.s1 = n1.i
           |                JOIN nrm n2 ON co.s2 = n2.i),
           |ssk AS (SELECT s1, s2, q FROM (SELECT *, row_number() OVER
           |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM sim WHERE q > 0)
           |  WHERE rs <= 20),
           |sck AS (SELECT e.u, ssk.s2, CAST(sum(e.w * ssk.q) AS BIGINT) AS sc
           |        FROM e JOIN ssk ON e.i = ssk.s1 GROUP BY 1, 2),
           |unk AS (SELECT sck.* FROM sck
           |        LEFT JOIN e ON sck.u = e.u AND sck.s2 = e.i
           |        WHERE e.u IS NULL AND sck.sc > 0),
           |reck AS (SELECT u, s2 FROM (SELECT *, row_number() OVER
           |    (PARTITION BY u ORDER BY sc DESC, s2) AS rn FROM unk)
           |  WHERE rn <= 10),
           |hp AS (SELECT recp.u, CAST(count(*) AS BIGINT) AS h
           |       FROM recp JOIN te ON recp.u = te.u AND recp.s2 = te.i
           |       GROUP BY 1),
           |evp AS (SELECT ru.u, coalesce(h, 0) AS h
           |        FROM (SELECT DISTINCT u FROM recp) ru
           |        JOIN tu ON ru.u = tu.u LEFT JOIN hp ON ru.u = hp.u),
           |hk AS (SELECT reck.u, CAST(count(*) AS BIGINT) AS h
           |       FROM reck JOIN te ON reck.u = te.u AND reck.s2 = te.i
           |       GROUP BY 1),
           |evk AS (SELECT ru.u, coalesce(h, 0) AS h
           |        FROM (SELECT DISTINCT u FROM reck) ru
           |        JOIN tu ON ru.u = tu.u LEFT JOIN hk ON ru.u = hk.u)
           |SELECT 'itemknn' AS model, CAST(count(*) AS BIGINT) AS n_users,
           |       CAST(sum(h) AS BIGINT) AS n_hits,
           |       round(CAST(sum(h) AS BIGINT) / (count(*) * 10.0), 6)
           |         AS mean_p_at_10,
           |       round(count(*) FILTER (h > 0) / CAST(count(*) AS DOUBLE), 6)
           |         AS hit_rate
           |FROM evk
           |UNION ALL
           |SELECT 'p3alpha', CAST(count(*) AS BIGINT),
           |       CAST(sum(h) AS BIGINT),
           |       round(CAST(sum(h) AS BIGINT) / (count(*) * 10.0), 6),
           |       round(count(*) FILTER (h > 0) / CAST(count(*) AS DOUBLE), 6)
           |FROM evp
           |ORDER BY model""".stripMargin))

  /** Big-catalog neighborhood recommendations — ItemKNN over the
    * customer-PART graph, a catalog 20× the supplier one (20k parts at
    * sf0.1, past the 10k broadcast threshold): above `broadcastItems`
    * the truncated similarity matrix stays DISTRIBUTED and shuffle-joins
    * on the item key instead of broadcasting — the plan that carries a
    * 59k-movie catalog (the reference's own MovieLens shape,
    * explicit_ratings/functions.py:33-36) or a 100-TB item catalog.
    * Both modes are bit-identical (GraphCFSpec differential), so the
    * oracle replays regardless of which side of the threshold the sf
    * lands on (sf0.01: 2k parts → broadcast; sf0.1: 20k → shuffle).
    * Histories capped at top-20 parts per customer, neighborhoods at 10
    * — the Σdeg² co-occurrence intermediate stays ≤ 400·|customers|. */
  private val q169 = Q("q169_bigcat_knn",
    (s, d) => {
      val inter = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      GraphCF.itemKnnRecs(inter, "cust", "part", k = 5, neighbors = 10,
          maxHistory = 20)
        .orderBy(col("cust"), col("rnk"))
    },
    Some("""WITH e0 AS (SELECT o_custkey AS u, l_partkey AS i,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |  GROUP BY 1, 2),
           |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
           |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
           |  WHERE rh <= 20),
           |nrm AS (SELECT i, CAST(sum(w * w) AS BIGINT) AS nrm FROM e GROUP BY 1),
           |co AS (SELECT a.i AS s1, b.i AS s2,
           |         CAST(sum(a.w * b.w) AS BIGINT) AS c
           |       FROM e a JOIN e b ON a.u = b.u AND a.i <> b.i GROUP BY 1, 2),
           |sim AS (SELECT s1, s2, CAST(floor(c * 10000 / sqrt(n1.nrm * n2.nrm))
           |          AS BIGINT) AS q
           |        FROM co JOIN nrm n1 ON co.s1 = n1.i
           |                JOIN nrm n2 ON co.s2 = n2.i),
           |ss AS (SELECT s1, s2, q FROM (SELECT *, row_number() OVER
           |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM sim WHERE q > 0)
           |  WHERE rs <= 10),
           |sc AS (SELECT e.u, ss.s2, CAST(sum(e.w * ss.q) AS BIGINT) AS score
           |       FROM e JOIN ss ON e.i = ss.s1 GROUP BY 1, 2),
           |unseen AS (SELECT sc.* FROM sc
           |           LEFT JOIN e ON sc.u = e.u AND sc.s2 = e.i
           |           WHERE e.u IS NULL AND sc.score > 0),
           |r AS (SELECT *, CAST(row_number() OVER
           |    (PARTITION BY u ORDER BY score DESC, s2) AS BIGINT) AS rnk
           |  FROM unseen)
           |SELECT u AS cust, s2 AS part, score, rnk FROM r
           |WHERE rnk <= 5 ORDER BY cust, rnk""".stripMargin))

  /** Precision over a k-GRID — the reference's evaluation loop shape
    * (implicit_feedback/prac_2.py:124-138 sweeps k and recomputes
    * precision@k per point): here ONE ranked rec frame is scored at
    * k = 1, 5, 10 in a single pass — the grid is a 3-row broadcast
    * dimension joined on rnk ≤ k, so the expensive model leg runs once,
    * not once per grid point (the reference recomputes per k; the
    * engine form makes the sweep free). p@k = hits_k / (n_users·k),
    * evaluated users as in q162 (recs AND test activity). */
  private val q170 = Q("q170_precision_grid",
    (s, d) => {
      import s.implicits._
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val cut = lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00"))
      val ordAll = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"))
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      def inter(o: org.apache.spark.sql.DataFrame) =
        o.join(li, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val test = inter(ordAll.filter(col("o_orderdate") >= cut))
        .distinct().persist(lvl)
      val recs = GraphCF.p3alphaRecs(
        inter(ordAll.filter(col("o_orderdate") < cut)),
        "cust", "supp", k = 10, neighbors = 20, maxHistory = 50)
        .persist(lvl)
      // hit rows carry their rank; the tiny k-grid joins on rnk <= k so
      // every grid point reads the SAME scored frame (no model re-run)
      val hitRows = recs.join(test, Seq("cust", "supp")).select(col("rnk"))
      val nUsers = recs.select(col("cust")).distinct()
        .join(test.select(col("cust")).distinct(), Seq("cust"))
        .agg(count(lit(1)).as("n_users"))
      val grid = Seq(1L, 5L, 10L).toDF("k")
      grid.join(hitRows, col("rnk") <= col("k"), "left")
        .groupBy(col("k")).agg(count(col("rnk")).as("n_hits"))
        .crossJoin(nUsers)
        .select(col("k"), col("n_users"), col("n_hits"),
          round(col("n_hits") / (col("n_users") * col("k")).cast("double"), 6)
            .as("precision_at_k"))
        .orderBy(col("k"))
    },
    Some("""WITH tr AS (SELECT o_orderkey, o_custkey FROM orders
           |            WHERE o_orderdate < TIMESTAMP '2000-01-01'),
           |te AS (SELECT DISTINCT o_custkey AS u, l_suppkey AS i
           |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |       WHERE o_orderdate >= TIMESTAMP '2000-01-01'),
           |e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM tr JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
           |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
           |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
           |  WHERE rh <= 50),
           |du AS (SELECT u, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY 1),
           |di AS (SELECT i, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY 1),
           |pui AS (SELECT e.u, e.i, (w * 10000) // du.d AS p
           |        FROM e JOIN du USING (u)),
           |piu AS (SELECT e.i, e.u, (w * 10000) // di.d AS p
           |        FROM e JOIN di USING (i)),
           |ssf AS (SELECT a.i AS s1, b.i AS s2,
           |          CAST(sum(a.p * b.p) AS BIGINT) AS q
           |        FROM piu a JOIN pui b ON a.u = b.u GROUP BY 1, 2),
           |ss AS (SELECT s1, s2, q FROM (SELECT *, row_number() OVER
           |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM ssf)
           |  WHERE rs <= 20),
           |sc AS (SELECT pui.u, ss.s2, CAST(sum(pui.p * ss.q) AS BIGINT) AS score
           |       FROM pui JOIN ss ON pui.i = ss.s1 GROUP BY 1, 2),
           |unseen AS (SELECT sc.* FROM sc
           |           LEFT JOIN e ON sc.u = e.u AND sc.s2 = e.i
           |           WHERE e.u IS NULL AND sc.score > 0),
           |recs AS (SELECT u, s2, CAST(rn AS BIGINT) AS rnk FROM
           |    (SELECT *, row_number() OVER
           |      (PARTITION BY u ORDER BY score DESC, s2) AS rn FROM unseen)
           |  WHERE rn <= 10),
           |hit AS (SELECT r.rnk FROM recs r
           |        JOIN te ON r.u = te.u AND r.s2 = te.i),
           |ev AS (SELECT CAST(count(*) AS BIGINT) AS n_users
           |       FROM (SELECT DISTINCT u FROM recs) ru
           |       JOIN (SELECT DISTINCT u FROM te) tu ON ru.u = tu.u),
           |ks AS (SELECT CAST(k AS BIGINT) AS k
           |       FROM (VALUES (1), (5), (10)) g(k))
           |SELECT ks.k, ev.n_users,
           |       CAST(count(hit.rnk) AS BIGINT) AS n_hits,
           |       round(count(hit.rnk) /
           |         CAST(ev.n_users * ks.k AS DOUBLE), 6) AS precision_at_k
           |FROM ks LEFT JOIN hit ON hit.rnk <= ks.k CROSS JOIN ev
           |GROUP BY ks.k, ev.n_users ORDER BY ks.k""".stripMargin))

  /** Catalog coverage of the served recommendations — the standard
    * recsys serving-diversity metric beside precision (what fraction of
    * the catalog ever appears in a top-k list; a popularity-collapsed
    * model scores high precision with tiny coverage): distinct
    * recommended items at k = 5 and k = 10 over the q163 ItemKNN frame,
    * against the full supplier catalog. The rec frame is persisted and
    * both grid points read it; counts are exact. */
  private val q171 = Q("q171_rec_coverage",
    (s, d) => {
      import s.implicits._
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val inter = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val recs = GraphCF.itemKnnRecs(inter, "cust", "supp", k = 10,
          neighbors = 20, maxHistory = 50)
        .persist(lvl)
      val catalog = supplier(s, d).agg(count(lit(1)).as("n_catalog"))
      val grid = Seq(5L, 10L).toDF("k")
      grid.join(recs.select(col("rnk"), col("supp")), col("rnk") <= col("k"))
        .groupBy(col("k"))
        .agg(countDistinct(col("supp")).as("n_rec_items"))
        .crossJoin(catalog)
        .select(col("k"), col("n_rec_items"), col("n_catalog"),
          round(col("n_rec_items") / col("n_catalog").cast("double"), 6)
            .as("coverage"))
        .orderBy(col("k"))
    },
    Some("""WITH e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |  GROUP BY 1, 2),
           |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
           |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
           |  WHERE rh <= 50),
           |nrm AS (SELECT i, CAST(sum(w * w) AS BIGINT) AS nrm FROM e GROUP BY 1),
           |co AS (SELECT a.i AS s1, b.i AS s2,
           |         CAST(sum(a.w * b.w) AS BIGINT) AS c
           |       FROM e a JOIN e b ON a.u = b.u AND a.i <> b.i GROUP BY 1, 2),
           |sim AS (SELECT s1, s2, CAST(floor(c * 10000 / sqrt(n1.nrm * n2.nrm))
           |          AS BIGINT) AS q
           |        FROM co JOIN nrm n1 ON co.s1 = n1.i
           |                JOIN nrm n2 ON co.s2 = n2.i),
           |ss AS (SELECT s1, s2, q FROM (SELECT *, row_number() OVER
           |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM sim WHERE q > 0)
           |  WHERE rs <= 20),
           |sc AS (SELECT e.u, ss.s2, CAST(sum(e.w * ss.q) AS BIGINT) AS score
           |       FROM e JOIN ss ON e.i = ss.s1 GROUP BY 1, 2),
           |unseen AS (SELECT sc.* FROM sc
           |           LEFT JOIN e ON sc.u = e.u AND sc.s2 = e.i
           |           WHERE e.u IS NULL AND sc.score > 0),
           |recs AS (SELECT u, s2, CAST(rn AS BIGINT) AS rnk FROM
           |    (SELECT *, row_number() OVER
           |      (PARTITION BY u ORDER BY score DESC, s2) AS rn FROM unseen)
           |  WHERE rn <= 10),
           |cat AS (SELECT CAST(count(*) AS BIGINT) AS n_catalog FROM supplier),
           |ks AS (SELECT CAST(k AS BIGINT) AS k
           |       FROM (VALUES (5), (10)) g(k))
           |SELECT ks.k,
           |       CAST(count(DISTINCT recs.s2) AS BIGINT) AS n_rec_items,
           |       cat.n_catalog,
           |       round(count(DISTINCT recs.s2) /
           |         CAST(cat.n_catalog AS DOUBLE), 6) AS coverage
           |FROM ks JOIN recs ON recs.rnk <= ks.k CROSS JOIN cat
           |GROUP BY ks.k, cat.n_catalog ORDER BY ks.k""".stripMargin))

  /** INCREMENTAL item-item co-occurrence maintenance
    * ([[graft.ops.GraphCF.foldCoDelta]]): the standing co-count frame is
    * folded forward with only the DELTA's touched users paying the
    * quadratic leg — co is a sum of per-user outer products, so the fold
    * subtracts each touched user's old capped outer product and adds the
    * merged one (Σ_touched min(deg,C)² work instead of Σ_all; at 100 TB
    * you fold the day's interactions, never rebuild the catalog). Here
    * the log splits at 2000-01-01: co-counts build on the older half,
    * the newer half folds in, and the emitted top-10 cosine rows per
    * supplier must HASH-MATCH the oracle, which replays the ONE-SHOT
    * build over the full log — the same incremental-equals-rebuild
    * oracle pattern as the digest/BM25 stores (q146/q138). */
  private val q172 = Q("q172_incremental_co",
    (s, d) => {
      val cut = lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00"))
      val ordAll = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"))
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      def inter(o: org.apache.spark.sql.DataFrame) =
        o.join(li, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val older = inter(ordAll.filter(col("o_orderdate") < cut))
      val delta = inter(ordAll.filter(col("o_orderdate") >= cut))
      val oldCo = GraphCF.coCounts(older, "cust", "supp", maxHistory = 50)
      val co = GraphCF.foldCoDelta(older, delta, "cust", "supp", oldCo,
        maxHistory = 50)
      val nrm = GraphCF.edges(inter(ordAll), "cust", "supp", maxHistory = 50)
        .groupBy(col("i")).agg(sum(col("w") * col("w")).as("nrm"))
      // the GUARDED sim derivation (GraphCF.cosineSimQ) — same overflow
      // budget as the serving paths, enforced on the incremental path too
      val sim = GraphCF.cosineSimQ(co, nrm, scale = 10000L)
      Relational.topKPerGroup(sim, Seq(col("s1")),
          Seq(col("q").desc, col("s2")), 10)
        .select(col("s1").as("supp"), col("s2").as("other"), col("q"),
          col("rn"))
        .orderBy(col("supp"), col("rn"))
    },
    Some("""WITH e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |  GROUP BY 1, 2),
           |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
           |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
           |  WHERE rh <= 50),
           |nrm AS (SELECT i, CAST(sum(w * w) AS BIGINT) AS nrm FROM e GROUP BY 1),
           |co AS (SELECT a.i AS s1, b.i AS s2,
           |         CAST(sum(a.w * b.w) AS BIGINT) AS c
           |       FROM e a JOIN e b ON a.u = b.u AND a.i <> b.i GROUP BY 1, 2),
           |sim AS (SELECT s1, s2, CAST(floor(c * 10000 / sqrt(n1.nrm * n2.nrm))
           |          AS BIGINT) AS q
           |        FROM co JOIN nrm n1 ON co.s1 = n1.i
           |                JOIN nrm n2 ON co.s2 = n2.i)
           |SELECT s1 AS supp, s2 AS other, q, CAST(rs AS BIGINT) AS rn
           |FROM (SELECT *, row_number() OVER
           |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM sim
           |  WHERE q > 0)
           |WHERE rs <= 10 ORDER BY supp, rn""".stripMargin))

  /** ItemKNN served OFF THE STANDING EDGE STORE
    * ([[graft.ops.GraphCF.writeEdgeBatch]] /
    * [[graft.ops.GraphCF.itemKnnRecsFromStore]]): the interaction log
    * lands as FOUR batch partials (mod-4 on the order key, so a
    * (customer, supplier) pair's counts split across batches and the
    * fold must merge them), then recs serve from the folded store. Edge
    * counts are additive, the scoring tail is shared with q163 — so the
    * oracle is the ONE-SHOT build over the full log, and the hash match
    * proves store-served == rebuild (the q146/q138 standing-store
    * pattern, now for the recommender family's state). */
  /** Land the cust-supp interaction log as FOUR mod-4 edge-batch partials
    * under `warehouse/<dirName>` ([[graft.ops.GraphCF.writeEdgeBatch]]) —
    * the standing-edge-store build shared by q173/q175 and their bench
    * build phases. Returns the store path. */
  private def custSuppEdgeStore(s: org.apache.spark.sql.SparkSession,
                                d: String, dirName: String): String = {
    val dir = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), dirName)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
    // persist across the four batch-write actions: un-persisted, every
    // batch job re-ran the scan + order-line join (4 passes → 1); the
    // batch filter runs on the cached frame (round-13, guide §2.4)
    val inter = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey").as("cust"),
        col("l_suppkey").as("supp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      (0L until 4L).foreach { b =>
        GraphCF.writeEdgeBatch(
          inter.filter(pmod(col("o_orderkey"), lit(4L)) === b),
          "cust", "supp", dir.toString, b)
      }
    } finally inter.unpersist(blocking = false)
    dir.toString
  }

  private val q173 = Q("q173_store_recs",
    (s, d) => {
      val dir = custSuppEdgeStore(s, d, "q173_edges")
      GraphCF.itemKnnRecsFromStore(s, dir, "cust", "supp",
          k = 10, neighbors = 20, maxHistory = 50)
        .orderBy(col("cust"), col("rnk"))
    },
    Some("""WITH e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |  GROUP BY 1, 2),
           |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
           |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
           |  WHERE rh <= 50),
           |nrm AS (SELECT i, CAST(sum(w * w) AS BIGINT) AS nrm FROM e GROUP BY 1),
           |co AS (SELECT a.i AS s1, b.i AS s2,
           |         CAST(sum(a.w * b.w) AS BIGINT) AS c
           |       FROM e a JOIN e b ON a.u = b.u AND a.i <> b.i GROUP BY 1, 2),
           |sim AS (SELECT s1, s2, CAST(floor(c * 10000 / sqrt(n1.nrm * n2.nrm))
           |          AS BIGINT) AS q
           |        FROM co JOIN nrm n1 ON co.s1 = n1.i
           |                JOIN nrm n2 ON co.s2 = n2.i),
           |ss AS (SELECT s1, s2, q FROM (SELECT *, row_number() OVER
           |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM sim WHERE q > 0)
           |  WHERE rs <= 20),
           |sc AS (SELECT e.u, ss.s2, CAST(sum(e.w * ss.q) AS BIGINT) AS score
           |       FROM e JOIN ss ON e.i = ss.s1 GROUP BY 1, 2),
           |unseen AS (SELECT sc.* FROM sc
           |           LEFT JOIN e ON sc.u = e.u AND sc.s2 = e.i
           |           WHERE e.u IS NULL AND sc.score > 0),
           |r AS (SELECT *, CAST(row_number() OVER
           |    (PARTITION BY u ORDER BY score DESC, s2) AS BIGINT) AS rnk
           |  FROM unseen)
           |SELECT u AS cust, s2 AS supp, score, rnk FROM r
           |WHERE rnk <= 10 ORDER BY cust, rnk""".stripMargin))

  /** The A/B DECISION pipeline end-to-end as one declared query
    * ([[graft.stats.AbDecision]] — the reference's experiment flow,
    * explicit_ratings/ab_test.py:268-391): arms assigned by user-id
    * parity (the engine's deterministic-assignment idiom), Brown-Forsythe
    * Levene on |value − arm median| gates Student vs Welch, plus the
    * rank-sum robustness row — three (test_name, statistic, p_band,
    * reject_null) rows. X3/X5/X6 were spec-only until now; this puts the
    * experiment-level composition under the driver's oracle. Statistics
    * are fixed-op-order expressions rounded 6dp (the q33 moment
    * contract); bands/decisions branch on the ROUNDED statistic against
    * fixed large-sample critical-value literals, so both engines take
    * identical branches; the rank sum is exact long arithmetic over the
    * bucketed global prefix ([[graft.ops.Relational.globalCumBelow]] —
    * no single-partition window over the value domain). */
  /** DuckDB oracle for [[graft.stats.AbDecision.decide]] over any
    * `ev(grp, value)` source select — q174 feeds raw event values,
    * q176 per-user aggregated metrics; the decision algebra is shared. */
  private def abDecisionSql(evSelect: String): String =
    s"""WITH ev AS ($evSelect),
       |med AS (SELECT grp, quantile_cont(value, 0.5) AS med
       |        FROM ev GROUP BY 1),
           |zf AS (SELECT ev.grp, ev.value, abs(ev.value - med.med) AS z
           |       FROM ev JOIN med ON ev.grp = med.grp),
           |gm AS (SELECT grp, CAST(count(*) AS BIGINT) AS n, avg(value) AS m,
           |         var_samp(value) AS v, sum(z) AS sz, sum(z * z) AS szz
           |       FROM zf GROUP BY 1),
           |a AS (SELECT n AS n1, m AS m1, v AS v1, sz AS sz1, szz AS szz1
           |      FROM gm WHERE grp = 'A'),
           |b AS (SELECT n AS n2, m AS m2, v AS v2, sz AS sz2, szz AS szz2
           |      FROM gm WHERE grp = 'B'),
           |bv AS (SELECT value, CAST(count(*) AS BIGINT) AS c,
           |         CAST(count(*) FILTER (grp = 'A') AS BIGINT) AS ca
           |       FROM ev GROUP BY 1),
           |rk AS (SELECT c, ca, CAST(coalesce(sum(c) OVER (ORDER BY value
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |         AS BIGINT) AS below FROM bv),
           |rs AS (SELECT CAST(sum(ca * (2 * below + c + 1)) AS BIGINT)
           |         AS sra2 FROM rk),
           |st AS (SELECT * FROM a, b, rs),
           |c1 AS (SELECT *, n1 + n2 AS nt,
           |         sz1 / n1 - (sz1 + sz2) / (n1 + n2) AS d1,
           |         sz2 / n2 - (sz1 + sz2) / (n1 + n2) AS d2 FROM st),
           |c2 AS (SELECT *, round((nt - 2) * (n1 * d1 * d1 + n2 * d2 * d2)
           |         / ((szz1 - sz1 * sz1 / n1) + (szz2 - sz2 * sz2 / n2)), 6)
           |         AS w_stat FROM c1),
           |c3 AS (SELECT *, w_stat <= 3.841459 AS equal_var,
           |         ((n1 - 1) * v1 + (n2 - 1) * v2) / (nt - 2) AS sp2 FROM c2),
           |c4 AS (SELECT *,
           |         round(CASE WHEN equal_var
           |           THEN (m1 - m2) / sqrt(sp2 * (1.0 / n1 + 1.0 / n2))
           |           ELSE (m1 - m2) / sqrt(v1 / n1 + v2 / n2) END, 6)
           |           AS t_stat,
           |         round((sra2 / 2.0 - n1 * (nt + 1) / 2.0)
           |           / sqrt(CAST(n1 AS DOUBLE) * n2 * (nt + 1) / 12.0), 6)
           |           AS z_stat FROM c3)
           |SELECT * FROM (
           |  SELECT 'levene' AS test_name, w_stat AS statistic,
           |    CASE WHEN w_stat > 10.827566 THEN '<0.001'
           |         WHEN w_stat > 6.634897 THEN '<0.01'
           |         WHEN w_stat > 3.841459 THEN '<0.05'
           |         ELSE '>=0.05' END AS p_band,
           |    w_stat > 3.841459 AS reject_null FROM c4
           |  UNION ALL
           |  SELECT CASE WHEN equal_var THEN 'student_t' ELSE 'welch_t' END,
           |    t_stat,
           |    CASE WHEN abs(t_stat) > 3.290527 THEN '<0.001'
           |         WHEN abs(t_stat) > 2.575829 THEN '<0.01'
           |         WHEN abs(t_stat) > 1.959964 THEN '<0.05'
           |         ELSE '>=0.05' END,
           |    abs(t_stat) > 1.959964 FROM c4
           |  UNION ALL
           |  SELECT 'rank_sum', z_stat,
           |    CASE WHEN abs(z_stat) > 3.290527 THEN '<0.001'
           |         WHEN abs(z_stat) > 2.575829 THEN '<0.01'
           |         WHEN abs(z_stat) > 1.959964 THEN '<0.05'
           |         ELSE '>=0.05' END,
           |    abs(z_stat) > 1.959964 FROM c4
           |) ORDER BY test_name""".stripMargin

  private val q174 = Q("q174_ab_decision",
    (s, d) => graft.stats.AbDecision.decide(events(s, d),
      when(pmod(col("user_id"), lit(2L)) === 0L, lit("A")).otherwise(lit("B")),
      col("value")),
    Some(abDecisionSql(
      "SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp, " +
        "value FROM events")))

  /** The A/B test on a PER-USER metric — the reference's actual unit of
    * analysis (ab_test.py scores each simulated USER, then tests the two
    * arms' user-score samples; testing raw events would pseudo-replicate
    * within-user correlation): per-user mean event value, rounded 6dp
    * BEFORE testing so both engines test bit-identical samples (a raw
    * per-user avg differs in final ulps between engines and the
    * rank-sum leg compares values EXACTLY), then the same
    * [[graft.stats.AbDecision]] pipeline as q174 — one operator, two
    * analysis units, shared oracle algebra. */
  private val q176 = Q("q176_ab_user_metric",
    (s, d) => graft.stats.AbDecision.decide(
      events(s, d).groupBy(col("user_id"))
        .agg(round(avg(col("value")), 6).as("metric")),
      when(pmod(col("user_id"), lit(2L)) === 0L, lit("A")).otherwise(lit("B")),
      col("metric")),
    Some(abDecisionSql(
      "SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp, " +
        "round(avg(value), 6) AS value FROM events GROUP BY user_id")))

  /** P3alpha served OFF THE STANDING EDGE STORE
    * ([[graft.ops.GraphCF.p3alphaRecsFromStore]]) — the q173 pattern for
    * the family's OTHER model: the log lands as four mod-4 batch
    * partials, the walk state (du/di/pui/piu) derives from the folded
    * (u, i, w) frame, and the oracle replays the ONE-SHOT build over the
    * full log — the hash match proves store-served == rebuild. With q173
    * this closes the family: BOTH neighborhood recommenders now serve
    * from standing state instead of replaying the raw log (the
    * reference's persisted-params serving pattern,
    * explicit_ratings/ab_test.py:73-85). */
  private val q175 = Q("q175_store_p3alpha",
    (s, d) => {
      val dir = custSuppEdgeStore(s, d, "q175_edges")
      GraphCF.p3alphaRecsFromStore(s, dir, "cust", "supp",
          k = 10, neighbors = 20, maxHistory = 50)
        .orderBy(col("cust"), col("rnk"))
    },
    Some("""WITH e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |  GROUP BY 1, 2),
           |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
           |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
           |  WHERE rh <= 50),
           |du AS (SELECT u, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY 1),
           |di AS (SELECT i, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY 1),
           |pui AS (SELECT e.u, e.i, (w * 10000) // du.d AS p
           |        FROM e JOIN du USING (u)),
           |piu AS (SELECT e.i, e.u, (w * 10000) // di.d AS p
           |        FROM e JOIN di USING (i)),
           |ssf AS (SELECT a.i AS s1, b.i AS s2,
           |          CAST(sum(a.p * b.p) AS BIGINT) AS q
           |        FROM piu a JOIN pui b ON a.u = b.u GROUP BY 1, 2),
           |ss AS (SELECT s1, s2, q FROM (SELECT *, row_number() OVER
           |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM ssf)
           |  WHERE rs <= 20),
           |sc AS (SELECT pui.u, ss.s2, CAST(sum(pui.p * ss.q) AS BIGINT) AS score
           |       FROM pui JOIN ss ON pui.i = ss.s1 GROUP BY 1, 2),
           |unseen AS (SELECT sc.* FROM sc
           |           LEFT JOIN e ON sc.u = e.u AND sc.s2 = e.i
           |           WHERE e.u IS NULL AND sc.score > 0),
           |r AS (SELECT *, CAST(row_number() OVER
           |    (PARTITION BY u ORDER BY score DESC, s2) AS BIGINT) AS rnk
           |  FROM unseen)
           |SELECT u AS cust, s2 AS supp, score, rnk FROM r
           |WHERE rnk <= 10 ORDER BY cust, rnk""".stripMargin))

  /** Shared DuckDB CTE block for the rank-metric family: q170's
    * time-split (tr = orders before 2000-01-01, te = DISTINCT test
    * pairs after) + capped edge frame + P3alpha ranked frame
    * `recs(u, s2, rnk)` — one string, so every oracle in the family
    * replays the identical model. */
  private val sqlP3SplitRecsCtes: String =
    """tr AS (SELECT o_orderkey, o_custkey FROM orders
      |            WHERE o_orderdate < TIMESTAMP '2000-01-01'),
      |te AS (SELECT DISTINCT o_custkey AS u, l_suppkey AS i
      |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |       WHERE o_orderdate >= TIMESTAMP '2000-01-01'),
      |e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
      |    CAST(count(*) AS BIGINT) AS w
      |  FROM tr JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
      |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
      |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
      |  WHERE rh <= 50),
      |du AS (SELECT u, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY 1),
      |di AS (SELECT i, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY 1),
      |pui AS (SELECT e.u, e.i, (w * 10000) // du.d AS p
      |        FROM e JOIN du USING (u)),
      |piu AS (SELECT e.i, e.u, (w * 10000) // di.d AS p
      |        FROM e JOIN di USING (i)),
      |ssf AS (SELECT a.i AS s1, b.i AS s2,
      |          CAST(sum(a.p * b.p) AS BIGINT) AS q
      |        FROM piu a JOIN pui b ON a.u = b.u GROUP BY 1, 2),
      |ss AS (SELECT s1, s2, q FROM (SELECT *, row_number() OVER
      |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM ssf)
      |  WHERE rs <= 20),
      |sc AS (SELECT pui.u, ss.s2, CAST(sum(pui.p * ss.q) AS BIGINT) AS score
      |       FROM pui JOIN ss ON pui.i = ss.s1 GROUP BY 1, 2),
      |unseen AS (SELECT sc.* FROM sc
      |           LEFT JOIN e ON sc.u = e.u AND sc.s2 = e.i
      |           WHERE e.u IS NULL AND sc.score > 0),
      |recs AS (SELECT u, s2, CAST(rn AS BIGINT) AS rnk FROM
      |    (SELECT *, row_number() OVER
      |      (PARTITION BY u ORDER BY score DESC, s2) AS rn FROM unseen)
      |  WHERE rn <= 10)""".stripMargin

  /** Shared DuckDB tail replaying [[graft.model.Metrics.rankingMetricsQ]]
    * over CTEs `te(u, i)` and `recs(u, s2, rnk)`: the gain/idcg VALUES
    * rows are generated from the SAME Scala tables the Spark plan uses,
    * so cross-engine equality is by construction. */
  private def sqlRankMetricsTail(k: Int): String = {
    val gains = graft.model.Metrics.ndcgGains(k)
      .map { case (r, g) => s"($r, $g)" }.mkString(", ")
    val idcg = graft.model.Metrics.ndcgIdcg(k)
      .map { case (n, c) => s"($n, $c)" }.mkString(", ")
    s"""gq AS (SELECT CAST(r AS BIGINT) AS r, CAST(gain AS BIGINT) AS gain
       |       FROM (VALUES $gains) g(r, gain)),
       |ig AS (SELECT CAST(n AS BIGINT) AS n, CAST(cum AS BIGINT) AS cum
       |       FROM (VALUES $idcg) g(n, cum)),
       |tu AS (SELECT u, CAST(count(*) AS BIGINT) AS ntest
       |       FROM te GROUP BY 1),
       |ev AS (SELECT tu.u, tu.ntest FROM tu
       |       JOIN (SELECT DISTINCT u FROM recs) ru ON tu.u = ru.u),
       |hit AS (SELECT r.u, r.rnk, CAST(row_number() OVER
       |      (PARTITION BY r.u ORDER BY r.rnk) AS BIGINT) AS h
       |    FROM recs r JOIN te ON r.u = te.u AND r.s2 = te.i),
       |phm AS (SELECT u, CAST(sum(gq.gain) AS BIGINT) AS dcg_q,
       |         min(hit.rnk) AS minr,
       |         CAST(sum((1000000 * h) // hit.rnk) AS BIGINT) AS apsum
       |       FROM hit JOIN gq ON hit.rnk = gq.r GROUP BY u),
       |pu AS (SELECT ev.u,
       |         (coalesce(phm.dcg_q, 0) * 1000000) // ig.cum AS ndcg_q,
       |         CASE WHEN phm.minr IS NULL THEN 0
       |              ELSE 1000000 // phm.minr END AS rr_q,
       |         coalesce(phm.apsum, 0) // least(ev.ntest, $k) AS ap_q
       |       FROM ev LEFT JOIN phm ON ev.u = phm.u
       |               JOIN ig ON ig.n = least(ev.ntest, $k)),
       |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
       |         CAST(sum(ndcg_q) AS BIGINT) AS s_ndcg,
       |         CAST(sum(rr_q) AS BIGINT) AS s_rr,
       |         CAST(sum(ap_q) AS BIGINT) AS s_ap FROM pu)
       |SELECT * FROM (
       |  SELECT 'ndcg_at_$k' AS metric, n_users, s_ndcg AS sum_q,
       |    round(CAST(s_ndcg AS DOUBLE)
       |      / CAST(n_users * 1000000 AS DOUBLE), 6) AS mean_value FROM ag
       |  UNION ALL
       |  SELECT 'mrr_at_$k', n_users, s_rr,
       |    round(CAST(s_rr AS DOUBLE)
       |      / CAST(n_users * 1000000 AS DOUBLE), 6) FROM ag
       |  UNION ALL
       |  SELECT 'map_at_$k', n_users, s_ap,
       |    round(CAST(s_ap AS DOUBLE)
       |      / CAST(n_users * 1000000 AS DOUBLE), 6) FROM ag
       |) ORDER BY metric""".stripMargin
  }

  /** Rank-position eval metrics — NDCG@10, MRR@10, MAP@10
    * ([[graft.model.Metrics.rankingMetricsQ]]) over the SAME time-split
    * P3alpha ranked frame as q170's precision grid: the reference's eval
    * loop weights every top-k slot equally (implicit_feedback/
    * functions.py:212-246); these weight by position, completing the
    * standard offline ranking-metric set. One ranked frame feeds all
    * three metrics in a single pass (the q170 trick); every per-user
    * value is exact micro-unit long arithmetic through the SHARED
    * literal gain tables, so the oracle replays it bit-for-bit — the
    * VALUES rows below are generated from the same Scala Seq the Spark
    * plan uses. */
  private val q177 = Q("q177_rank_metrics",
    (s, d) => {
      import s.implicits._
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val cut = lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00"))
      val ordAll = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"))
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      def inter(o: org.apache.spark.sql.DataFrame) =
        o.join(li, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val test = inter(ordAll.filter(col("o_orderdate") >= cut))
        .distinct().persist(lvl)
      val recs = GraphCF.p3alphaRecs(
        inter(ordAll.filter(col("o_orderdate") < cut)),
        "cust", "supp", k = 10, neighbors = 20, maxHistory = 50)
        .persist(lvl)
      graft.model.Metrics.rankingMetricsQ(recs, test, "cust", "supp",
          "rnk", 10)
        .orderBy(col("metric"))
    },
    Some(s"WITH $sqlP3SplitRecsCtes,\n${sqlRankMetricsTail(10)}"))

  /** Serving-concentration metrics — Gini, HHI, top-decile share
    * ([[graft.model.Metrics.recConcentrationQ]]) of the per-item
    * recommendation counts over q171's ItemKNN frame, zero-count catalog
    * items included: coverage (q171) says how MUCH of the catalog is
    * ever served; these say how UNEVENLY the served mass spreads (the
    * standard aggregate-diversity pair). Every metric is an exact
    * integer (num, den) ratio; the Gini leg runs on the distinct-count-
    * value frame through the bucketed distributed prefix
    * ([[graft.ops.Relational.globalCumBelow]]), so no single-partition
    * window over the catalog exists at any scale. */
  private val q178 = Q("q178_rec_concentration",
    (s, d) => {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val inter = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val recs = GraphCF.itemKnnRecs(inter, "cust", "supp", k = 10,
          neighbors = 20, maxHistory = 50)
        .persist(lvl)
      graft.model.Metrics.recConcentrationQ(recs,
        supplier(s, d).select(col("s_suppkey").as("supp")), "supp")
    },
    Some("""WITH e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |  GROUP BY 1, 2),
           |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
           |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
           |  WHERE rh <= 50),
           |nrm AS (SELECT i, CAST(sum(w * w) AS BIGINT) AS nrm FROM e GROUP BY 1),
           |co AS (SELECT a.i AS s1, b.i AS s2,
           |         CAST(sum(a.w * b.w) AS BIGINT) AS c
           |       FROM e a JOIN e b ON a.u = b.u AND a.i <> b.i GROUP BY 1, 2),
           |sim AS (SELECT s1, s2, CAST(floor(c * 10000 / sqrt(n1.nrm * n2.nrm))
           |          AS BIGINT) AS q
           |        FROM co JOIN nrm n1 ON co.s1 = n1.i
           |                JOIN nrm n2 ON co.s2 = n2.i),
           |ss AS (SELECT s1, s2, q FROM (SELECT *, row_number() OVER
           |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM sim WHERE q > 0)
           |  WHERE rs <= 20),
           |sc AS (SELECT e.u, ss.s2, CAST(sum(e.w * ss.q) AS BIGINT) AS score
           |       FROM e JOIN ss ON e.i = ss.s1 GROUP BY 1, 2),
           |unseen AS (SELECT sc.* FROM sc
           |           LEFT JOIN e ON sc.u = e.u AND sc.s2 = e.i
           |           WHERE e.u IS NULL AND sc.score > 0),
           |recs AS (SELECT u, s2 FROM (SELECT *, row_number() OVER
           |      (PARTITION BY u ORDER BY score DESC, s2) AS rn FROM unseen)
           |  WHERE rn <= 10),
           |cnt AS (SELECT s2 AS i, CAST(count(*) AS BIGINT) AS x
           |        FROM recs GROUP BY 1),
           |x AS (SELECT coalesce(cnt.x, 0) AS x FROM supplier
           |      LEFT JOIN cnt ON s_suppkey = cnt.i),
           |tt AS (SELECT CAST(sum(x) AS BIGINT) AS tot,
           |         CAST(count(*) AS BIGINT) AS n,
           |         CAST(sum(x * x) AS BIGINT) AS sumsq FROM x),
           |vc AS (SELECT x AS v, CAST(count(*) AS BIGINT) AS c
           |       FROM x GROUP BY 1),
           |vb AS (SELECT v, c, CAST(coalesce(sum(c) OVER (ORDER BY v
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |    AS BIGINT) AS below FROM vc),
           |ag AS (SELECT tt.n, tt.tot, tt.sumsq,
           |         CAST(sum(v * c * (2 * below + c - tt.n)) AS BIGINT)
           |           AS gini_num,
           |         CAST(sum(v * least(c, greatest(0,
           |           (tt.n + 9) // 10 - (tt.n - below - c)))) AS BIGINT)
           |           AS top_num
           |       FROM vb CROSS JOIN tt GROUP BY tt.n, tt.tot, tt.sumsq)
           |SELECT * FROM (
           |  SELECT 'gini' AS metric, gini_num AS num, n * tot AS den,
           |    round(CAST(gini_num AS DOUBLE) / CAST(n * tot AS DOUBLE), 6)
           |      AS value FROM ag
           |  UNION ALL
           |  SELECT 'hhi', sumsq, tot * tot,
           |    round(CAST(sumsq AS DOUBLE) / CAST(tot * tot AS DOUBLE), 6)
           |    FROM ag
           |  UNION ALL
           |  SELECT 'top_decile_share', top_num, tot,
           |    round(CAST(top_num AS DOUBLE) / CAST(tot AS DOUBLE), 6)
           |    FROM ag
           |) ORDER BY metric""".stripMargin))

  /** The POPULARITY BASELINE under the identical split and metric suite
    * as q177 ([[graft.ops.GraphCF.popularityRecs]] +
    * [[graft.model.Metrics.rankingMetricsQ]]): every comparative eval
    * needs the non-personalized control arm (the reference's experiment
    * flow is model-vs-control, explicit_ratings/ab_test.py) — a
    * personalized model that can't beat these three rows isn't working.
    * The baseline build is counts + one broadcast pool: no quadratic
    * co-walk leg, so the query prices the EVAL, not a model. The oracle
    * ranks the full users × catalog product (exact at oracle scale);
    * the operator's bounded-pool cut is proven equivalent in its
    * Scaladoc and pinned by GraphCFSpec. */
  private val q179 = Q("q179_pop_baseline",
    (s, d) => {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val cut = lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00"))
      val ordAll = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"))
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      def inter(o: org.apache.spark.sql.DataFrame) =
        o.join(li, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val test = inter(ordAll.filter(col("o_orderdate") >= cut))
        .distinct().persist(lvl)
      val recs = GraphCF.popularityRecs(
        inter(ordAll.filter(col("o_orderdate") < cut)),
        "cust", "supp", k = 10, maxHistory = 50)
        .persist(lvl)
      graft.model.Metrics.rankingMetricsQ(recs, test, "cust", "supp",
          "rnk", 10)
        .orderBy(col("metric"))
    },
    Some {
      val prefix =
        """tr AS (SELECT o_orderkey, o_custkey FROM orders
          |            WHERE o_orderdate < TIMESTAMP '2000-01-01'),
          |te AS (SELECT DISTINCT o_custkey AS u, l_suppkey AS i
          |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |       WHERE o_orderdate >= TIMESTAMP '2000-01-01'),
          |e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
          |    CAST(count(*) AS BIGINT) AS w
          |  FROM tr JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
          |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
          |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
          |  WHERE rh <= 50),
          |pop AS (SELECT i, CAST(sum(w) AS BIGINT) AS pop FROM e GROUP BY 1),
          |us AS (SELECT DISTINCT u FROM e),
          |cand AS (SELECT us.u, pop.i, pop.pop FROM us CROSS JOIN pop),
          |uns AS (SELECT cand.* FROM cand
          |        LEFT JOIN e ON cand.u = e.u AND cand.i = e.i
          |        WHERE e.u IS NULL),
          |recs AS (SELECT u, i AS s2, CAST(rn AS BIGINT) AS rnk FROM
          |    (SELECT *, row_number() OVER
          |      (PARTITION BY u ORDER BY pop DESC, i) AS rn FROM uns)
          |  WHERE rn <= 10)""".stripMargin
      s"WITH $prefix,\n${sqlRankMetricsTail(10)}"
    })

  /** Popularity-STRATIFIED recall — recall@10 of the q170/q177 P3alpha
    * frame split by the test item's training-popularity band (tail /
    * torso / head terciles of the capped train edge mass, plus `cold`
    * for test items unseen in training): the standard "does the model
    * only serve the head?" cut that aggregate precision hides. Bands are
    * exact integer arithmetic — an item's band is (3·below) div n_items
    * where `below` counts items of strictly smaller popularity via the
    * bucketed distributed prefix ([[graft.ops.Relational.globalCumBelow]]
    * — tie blocks share one band, so the cut is replayable with no
    * per-item global sort at any scale). Test pairs restricted to
    * evaluated users (q162 contract). */
  private val q180 = Q("q180_pop_stratified_recall",
    (s, d) => {
      import s.implicits._
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val cut = lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00"))
      val ordAll = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"))
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      def inter(o: org.apache.spark.sql.DataFrame) =
        o.join(li, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val train = inter(ordAll.filter(col("o_orderdate") < cut))
      val test = inter(ordAll.filter(col("o_orderdate") >= cut))
        .distinct().persist(lvl)
      // ONE capped edge frame feeds both the model and the popularity
      // bands (the q168 shared-edge-frame pattern): FromEdges persists it,
      // so the groupBy + history window over the fact table runs once
      val e = GraphCF.edges(train, "cust", "supp", maxHistory = 50)
      val recs = GraphCF.p3alphaRecsFromEdges(e, "cust", "supp",
          k = 10, neighbors = 20)
        .persist(lvl)
      val pop = e.groupBy(col("i")).agg(sum(col("w")).as("v"))
        .persist(lvl)
      val vc = pop.groupBy(col("v")).agg(count(lit(1)).as("c"))
      val bandOfValue = Relational.globalCumBelow(vc, "v", "c", "below")
        .crossJoin(broadcast(pop.agg(count(lit(1)).as("n_items"))))
        .select(col("v"), expr("(3 * below) div n_items").as("band_id"))
      val itemBand = pop.join(bandOfValue, "v")
        .select(col("i").as("supp"), col("band_id"))
      val bandName = typedLit(Map(0L -> "tail", 1L -> "torso",
        2L -> "head", 3L -> "cold"))
      // evaluated users only; unseen-in-train test items band as 'cold'
      val teB = test
        .join(recs.select(col("cust")).distinct(), Seq("cust"), "left_semi")
        .join(itemBand, Seq("supp"), "left")
        .select(col("cust"), col("supp"),
          element_at(bandName, coalesce(col("band_id"), lit(3L)))
            .as("band"))
        .persist(lvl)
      val hits = recs.join(teB, Seq("cust", "supp"))
        .groupBy(col("band")).agg(count(lit(1)).as("n_hits"))
      teB.groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
        .join(hits, Seq("band"), "left")
        .select(col("band"), col("n_pairs"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall_at_10",
          round(col("n_hits").cast("double") / col("n_pairs").cast("double"), 6))
        .orderBy(col("band"))
    },
    Some(s"""WITH $sqlP3SplitRecsCtes,
            |pop AS (SELECT i, CAST(sum(w) AS BIGINT) AS v FROM e GROUP BY 1),
            |vc AS (SELECT v, CAST(count(*) AS BIGINT) AS c
            |       FROM pop GROUP BY 1),
            |vb AS (SELECT v, CAST(coalesce(sum(c) OVER (ORDER BY v
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            |    AS BIGINT) AS below FROM vc),
            |nf AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM pop),
            |ib AS (SELECT pop.i, (3 * vb.below) // nf.n_items AS band_id
            |       FROM pop JOIN vb USING (v) CROSS JOIN nf),
            |teb AS (SELECT te.u, te.i,
            |          CASE coalesce(ib.band_id, 3)
            |            WHEN 0 THEN 'tail' WHEN 1 THEN 'torso'
            |            WHEN 2 THEN 'head' ELSE 'cold' END AS band
            |        FROM te
            |        JOIN (SELECT DISTINCT u FROM recs) ru ON te.u = ru.u
            |        LEFT JOIN ib ON te.i = ib.i),
            |hits AS (SELECT teb.band, CAST(count(*) AS BIGINT) AS n_hits
            |         FROM recs JOIN teb
            |           ON recs.u = teb.u AND recs.s2 = teb.i
            |         GROUP BY 1),
            |pairs AS (SELECT band, CAST(count(*) AS BIGINT) AS n_pairs
            |          FROM teb GROUP BY 1)
            |SELECT pairs.band, pairs.n_pairs,
            |       coalesce(hits.n_hits, 0) AS n_hits,
            |       round(CAST(coalesce(hits.n_hits, 0) AS DOUBLE)
            |         / CAST(pairs.n_pairs AS DOUBLE), 6) AS recall_at_10
            |FROM pairs LEFT JOIN hits USING (band)
            |ORDER BY pairs.band""".stripMargin))

  /** CONVERSION-rate A/B decision
    * ([[graft.stats.AbDecision.decideProportions]]): the binary-metric
    * sibling of q174/q176 — units are USERS (the q176 pseudo-replication
    * lesson), success = heavy purchaser (≥ 14 purchase events — the
    * every-user-converts trivial flag would make the table degenerate),
    * arms by user-id parity; emits the two-proportion z and 2×2
    * chi-square decision rows. The statistics evaluate ONE expression string shared
    * verbatim with this oracle (`AbDecision.propZSql`/`propChiSql`), the
    * cross-product difference is exact long arithmetic, and bands branch
    * on the ROUNDED statistic against the fixed critical literals — the
    * q174 replayability contract on a 2×2 table. */
  /** Shared oracle for the conversion A/B readout (q181 direct, q182 off
    * the standing counter store — the store fold must hash-match this
    * ONE-SHOT build over the full log). */
  private def abConversionSql: String = {
      val z = graft.stats.AbDecision.propZSql
      val chi = graft.stats.AbDecision.propChiSql
      s"""WITH u AS (SELECT
         |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
         |    CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase'
         |        THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END
         |      AS BIGINT) AS s
         |  FROM events GROUP BY user_id),
         |g AS (SELECT
         |    CAST(sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |    CAST(sum(CASE WHEN grp = 'A' THEN s ELSE 0 END) AS BIGINT) AS s1,
         |    CAST(sum(CASE WHEN grp = 'B' THEN s ELSE 0 END) AS BIGINT) AS s2
         |  FROM u),
         |st AS (SELECT $z AS z_stat, $chi AS chi_stat FROM g)
         |SELECT * FROM (
         |  SELECT 'chi_sq' AS test_name, chi_stat AS statistic,
         |    CASE WHEN chi_stat > 10.827566 THEN '<0.001'
         |         WHEN chi_stat > 6.634897 THEN '<0.01'
         |         WHEN chi_stat > 3.841459 THEN '<0.05'
         |         ELSE '>=0.05' END AS p_band,
         |    chi_stat > 3.841459 AS reject_null FROM st
         |  UNION ALL
         |  SELECT 'two_prop_z', z_stat,
         |    CASE WHEN abs(z_stat) > 3.290527 THEN '<0.001'
         |         WHEN abs(z_stat) > 2.575829 THEN '<0.01'
         |         WHEN abs(z_stat) > 1.959964 THEN '<0.05'
         |         ELSE '>=0.05' END,
         |    abs(z_stat) > 1.959964 FROM st
         |) ORDER BY test_name""".stripMargin
  }

  private val q181 = Q("q181_ab_conversion",
    (s, d) => graft.stats.AbDecision.decideProportions(
      events(s, d).groupBy(col("user_id"))
        .agg(when(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)) >= 14L, 1L).otherwise(0L).as("conv")),
      when(pmod(col("user_id"), lit(2L)) === 0L, lit("A")).otherwise(lit("B")),
      col("conv")),
    Some(abConversionSql))

  /** The conversion A/B readout OFF THE STANDING COUNTER STORE
    * ([[graft.stats.AbDecision.writeUnitCountBatch]]/[[graft.stats.AbDecision.unitCounts]])
    * — the q173/q175 pattern for the experiment family: the event log
    * lands as four mod-4 per-batch (unit, success-count) partials, the
    * standing totals fold with one groupBy (long sums are order-free),
    * and the SAME decideProportions readout must hash-match q181's
    * one-shot oracle over the full log. A unit whose successes split
    * across batches (no single batch crosses the threshold) is decided
    * by the CROSS-BATCH total — the property the spec isolates. With
    * this every standing-store family (dedup digests, BM25, IVF, CDC,
    * edges, sketches) has its experiment sibling: continuous A/B
    * monitoring never replays the raw log. */
  private val q182 = Q("q182_ab_from_store",
    (s, d) => {
      val dir = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "q182_conv")
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(dir)) fs.delete(dir, true)
      val ev = events(s, d)
      (0L until 4L).foreach { b =>
        graft.stats.AbDecision.writeUnitCountBatch(
          ev.filter(pmod(col("event_id"), lit(4L)) === b),
          col("user_id"), col("event_type") === "purchase", dir.toString, b)
      }
      val units = graft.stats.AbDecision.unitCounts(s, dir.toString)
      graft.stats.AbDecision.decideProportions(units,
        when(pmod(col("unit"), lit(2L)) === 0L, lit("A")).otherwise(lit("B")),
        when(col("cnt") >= 14L, 1L).otherwise(0L))
    },
    Some(abConversionSql))

  /** CUPED-adjusted A/B decision
    * ([[graft.stats.AbDecision.cupedAdjusted]] → `decide`): the
    * industry-standard variance-reduction step the raw q176 test
    * leaves on the table — each user's post-period mean is adjusted by
    * θ·(pre − mean(pre)) with θ = cov(pre, post)/var(pre) from EXACT
    * integer sufficient statistics (Spark DECIMAL(38) sums == oracle
    * HUGEINT sums, one cast-to-double each, the shared `cupedAdjSql`
    * expression), then the same Levene-gated decision pipeline runs on
    * the adjusted per-user values. Pre/post split the event month at
    * 2024-01-16; users active in both halves are the units. */
  private val q183 = Q("q183_ab_cuped",
    (s, d) => {
      val cut = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
      val per = events(s, d).groupBy(col("user_id")).agg(
          round(avg(when(col("ts") < cut, col("value"))), 6).as("pre"),
          round(avg(when(col("ts") >= cut, col("value"))), 6).as("post"))
        .filter(col("pre").isNotNull && col("post").isNotNull)
      graft.stats.AbDecision.decide(
        graft.stats.AbDecision.cupedAdjusted(per, "pre", "post"),
        when(pmod(col("user_id"), lit(2L)) === 0L, lit("A")).otherwise(lit("B")),
        col("cuped"))
    },
    Some {
      val uq =
        """SELECT user_id,
          |    CAST(round(round(pre, 6) * 1000, 0) AS BIGINT) AS __pre_q,
          |    CAST(round(round(post, 6) * 1000, 0) AS BIGINT) AS __post_q
          |  FROM (SELECT user_id,
          |      round(avg(CASE WHEN ts < TIMESTAMP '2024-01-16'
          |        THEN value END), 6) AS pre,
          |      round(avg(CASE WHEN ts >= TIMESTAMP '2024-01-16'
          |        THEN value END), 6) AS post
          |    FROM events GROUP BY user_id)
          |  WHERE pre IS NOT NULL AND post IS NOT NULL""".stripMargin
      val evSelect =
        s"""WITH uq AS ($uq),
           |mq AS (SELECT CAST(count(*) AS HUGEINT) AS __n,
           |    sum(CAST(__pre_q AS HUGEINT)) AS __sp,
           |    CAST(count(*) AS HUGEINT)
           |      * sum(CAST(__pre_q AS HUGEINT) * __post_q)
           |      - sum(CAST(__pre_q AS HUGEINT)) * sum(CAST(__post_q AS HUGEINT))
           |      AS __num,
           |    CAST(count(*) AS HUGEINT)
           |      * sum(CAST(__pre_q AS HUGEINT) * __pre_q)
           |      - sum(CAST(__pre_q AS HUGEINT)) * sum(CAST(__pre_q AS HUGEINT))
           |      AS __den
           |  FROM uq)
           |SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
           |  ${graft.stats.AbDecision.cupedAdjSql} AS value
           |FROM uq CROSS JOIN mq""".stripMargin
      abDecisionSql(evSelect)
    })

  /** USER-KNN cosine recommendations
    * ([[graft.ops.GraphCF.userKnnRecs]]): the third classical
    * neighborhood model beside ItemKNN (q163) and P3alpha (q160) —
    * similar users vote with their histories. Both scale caps are
    * exercised at the driver gate: per-user histories (maxHistory = 50)
    * AND per-item audiences (maxAudience = 50, the user-side quadratic
    * leg's bound Σ_i min(aud, A)²); similarities derive from the
    * audience-capped frame through the shared guarded
    * [[graft.ops.GraphCF.cosineSimQ]], scoring reads the
    * history-capped frame — the oracle replays both cuts bit-exactly
    * (row_number windows with id tie-breaks). */
  private val q184 = Q("q184_userknn_recs",
    (s, d) => {
      val inter = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      GraphCF.userKnnRecs(inter, "cust", "supp", k = 10,
          neighbors = 20, maxHistory = 50, maxAudience = 50)
        .orderBy(col("cust"), col("rnk"))
    },
    Some("""WITH e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |  GROUP BY 1, 2),
           |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
           |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
           |  WHERE rh <= 50),
           |ea AS (SELECT u, i, w FROM (SELECT e.*, row_number() OVER
           |    (PARTITION BY i ORDER BY w DESC, u) AS ra FROM e)
           |  WHERE ra <= 50),
           |nrm AS (SELECT u, CAST(sum(w * w) AS BIGINT) AS nrm
           |        FROM ea GROUP BY 1),
           |co AS (SELECT a.u AS s1, b.u AS s2,
           |         CAST(sum(a.w * b.w) AS BIGINT) AS c
           |       FROM ea a JOIN ea b ON a.i = b.i AND a.u <> b.u
           |       GROUP BY 1, 2),
           |sim AS (SELECT s1, s2, CAST(floor(c * 10000 / sqrt(n1.nrm * n2.nrm))
           |          AS BIGINT) AS q
           |        FROM co JOIN nrm n1 ON co.s1 = n1.u
           |                JOIN nrm n2 ON co.s2 = n2.u),
           |ss AS (SELECT s1, s2, q FROM (SELECT *, row_number() OVER
           |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM sim WHERE q > 0)
           |  WHERE rs <= 20),
           |sc AS (SELECT ss.s1 AS u, e.i, CAST(sum(ss.q * e.w) AS BIGINT)
           |         AS score
           |       FROM ss JOIN e ON ss.s2 = e.u GROUP BY 1, 2),
           |unseen AS (SELECT sc.* FROM sc
           |           LEFT JOIN e ON sc.u = e.u AND sc.i = e.i
           |           WHERE e.u IS NULL AND sc.score > 0),
           |r AS (SELECT *, CAST(row_number() OVER
           |    (PARTITION BY u ORDER BY score DESC, i) AS BIGINT) AS rnk
           |  FROM unseen)
           |SELECT u AS cust, i AS supp, score, rnk FROM r
           |WHERE rnk <= 10 ORDER BY cust, rnk""".stripMargin))

  /** ANN QUALITY CERTIFICATION — recall@k of the IVF search (q53 config)
    * against the brute-force exact top-k (q48 machinery) on the same
    * query/corpus split: the approximation's operating point measured
    * inside the engine rather than asserted ("nProbe = 2 of 8 cells" is
    * a knob; this row set is what it actually costs in recall). Both
    * rankings are already oracle-replayable, so their set intersection
    * is too — per-query (k, n_hits, recall). At 100 TB this is the
    * query a deployment runs after every reindex: exact top-k on a
    * SAMPLE of queries certifies the store's recall without a full
    * brute-force sweep. */
  private val q185 = Q("q185_ann_recall",
    (s, d) => {
      val emb = embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 20)
      val corpus = emb.filter(col("vec_id") >= 20)
      val ivf = Similarity.ivfSearch(qs, corpus, "vec_id", "embedding",
          fixedCodebook(emb), nProbe = 2, k = 3)
        .select(col("query_id"), col("cand_id"))
      val exact = Similarity.cosineTopK(qs, corpus, "vec_id", "embedding", 3)
        .select(col("query_id"), col("cand_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val hit = exact.join(ivf, Seq("query_id", "cand_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      exact.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
        .join(hit, Seq("query_id"), "left")
        .select(col("query_id"), col("k"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall",
          round(col("n_hits").cast("double") / col("k").cast("double"), 6))
        .orderBy(col("query_id"))
    },
    Some {
      s"""WITH cent AS (SELECT vec_id AS cell, embedding
         |              FROM embeddings WHERE vec_id >= 20 AND vec_id < 28),
         |corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
         |queries AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
         |ad AS (SELECT v.vec_id, c.cell, ${sqlL2Chain("v", "c")} AS dist
         |       FROM corpus v CROSS JOIN cent c),
         |assign AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY dist, cell) AS rn FROM ad) WHERE rn = 1),
         |qd AS (SELECT q.vec_id, c.cell, ${sqlL2Chain("q", "c")} AS dist
         |       FROM queries q CROSS JOIN cent c),
         |probe AS (SELECT vec_id AS query_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY dist, cell) AS rn FROM qd) WHERE rn <= 2),
         |cand AS (SELECT DISTINCT p.query_id, a.vec_id AS cand_id
         |         FROM probe p JOIN assign a USING (cell)),
         |isims AS (SELECT cd.query_id, cd.cand_id,
         |           ${sqlDotChain("q", "v")} /
         |             (${sqlNormChain("q")} * ${sqlNormChain("v")}) AS sim
         |         FROM cand cd JOIN queries q ON q.vec_id = cd.query_id
         |                      JOIN corpus v ON v.vec_id = cd.cand_id),
         |ivf AS (SELECT query_id, cand_id FROM (SELECT query_id, cand_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, cand_id) AS rnk FROM isims)
         |  WHERE rnk <= 3),
         |bsims AS (SELECT q.vec_id AS query_id, v.vec_id AS cand_id,
         |           ${sqlDotChain("q", "v")} /
         |             (${sqlNormChain("q")} * ${sqlNormChain("v")}) AS sim
         |          FROM queries q CROSS JOIN corpus v),
         |bexact AS (SELECT query_id, cand_id FROM (SELECT query_id, cand_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, cand_id) AS rnk FROM bsims)
         |  WHERE rnk <= 3),
         |hits AS (SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |         FROM bexact b JOIN ivf i ON b.query_id = i.query_id
         |           AND b.cand_id = i.cand_id GROUP BY 1),
         |kk AS (SELECT query_id, CAST(count(*) AS BIGINT) AS k
         |       FROM bexact GROUP BY 1)
         |SELECT kk.query_id, kk.k, coalesce(hits.n_hits, 0) AS n_hits,
         |       round(CAST(coalesce(hits.n_hits, 0) AS DOUBLE)
         |         / CAST(kk.k AS DOUBLE), 6) AS recall
         |FROM kk LEFT JOIN hits USING (query_id)
         |ORDER BY query_id""".stripMargin
    })

  // -------------------------------------- shared recommender CTE builders

  /** The full-log capped edge frame as DuckDB CTEs `e0`/`e` — the SQL
    * image of `GraphCF.edges(inter, maxHistory = 50)` over the
    * orders×lineitem interaction frame (the q178/q184 chain head,
    * factored so multi-model oracles share ONE copy). */
  private val sqlFullEdgesCtes: String =
    """e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
      |    CAST(count(*) AS BIGINT) AS w
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2),
      |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
      |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
      |  WHERE rh <= 50)""".stripMargin

  /** ItemKNN recommendation chain over an existing `e(u, i, w)` CTE,
    * every CTE name prefixed with `p` so two models' chains compose in
    * one oracle — ends at `${p}recs(u, s2, score, rnk)`. Replays
    * `GraphCF.itemKnnRecsFromEdges(e, k, neighbors)` (the q178 chain,
    * factored). */
  private def sqlItemKnnChain(p: String, neighbors: Int, k: Int): String =
    s"""${p}nrm AS (SELECT i, CAST(sum(w * w) AS BIGINT) AS nrm
       |        FROM e GROUP BY 1),
       |${p}co AS (SELECT a.i AS s1, b.i AS s2,
       |         CAST(sum(a.w * b.w) AS BIGINT) AS c
       |       FROM e a JOIN e b ON a.u = b.u AND a.i <> b.i GROUP BY 1, 2),
       |${p}sim AS (SELECT s1, s2,
       |          CAST(floor(c * 10000 / sqrt(n1.nrm * n2.nrm)) AS BIGINT) AS q
       |        FROM ${p}co JOIN ${p}nrm n1 ON ${p}co.s1 = n1.i
       |                JOIN ${p}nrm n2 ON ${p}co.s2 = n2.i),
       |${p}ss AS (SELECT s1, s2, q FROM (SELECT *, row_number() OVER
       |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM ${p}sim
       |    WHERE q > 0)
       |  WHERE rs <= $neighbors),
       |${p}sc AS (SELECT e.u, ${p}ss.s2, CAST(sum(e.w * ${p}ss.q) AS BIGINT)
       |         AS score
       |       FROM e JOIN ${p}ss ON e.i = ${p}ss.s1 GROUP BY 1, 2),
       |${p}unseen AS (SELECT ${p}sc.* FROM ${p}sc
       |           LEFT JOIN e ON ${p}sc.u = e.u AND ${p}sc.s2 = e.i
       |           WHERE e.u IS NULL AND ${p}sc.score > 0),
       |${p}recs AS (SELECT u, s2, score, CAST(rn AS BIGINT) AS rnk FROM
       |    (SELECT *, row_number() OVER
       |      (PARTITION BY u ORDER BY score DESC, s2) AS rn FROM ${p}unseen)
       |  WHERE rn <= $k)""".stripMargin

  /** P3alpha recommendation chain over an existing `e(u, i, w)` CTE,
    * prefixed like [[sqlItemKnnChain]] — ends at
    * `${p}recs(u, s2, score, rnk)`. Replays
    * `GraphCF.p3alphaRecsFromEdges(e, k, neighbors)` (the
    * sqlP3SplitRecsCtes chain, factored to compose). */
  private def sqlP3Chain(p: String, neighbors: Int, k: Int): String =
    s"""${p}du AS (SELECT u, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY 1),
       |${p}di AS (SELECT i, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY 1),
       |${p}pui AS (SELECT e.u, e.i, (w * 10000) // ${p}du.d AS p
       |        FROM e JOIN ${p}du USING (u)),
       |${p}piu AS (SELECT e.i, e.u, (w * 10000) // ${p}di.d AS p
       |        FROM e JOIN ${p}di USING (i)),
       |${p}ssf AS (SELECT a.i AS s1, b.i AS s2,
       |          CAST(sum(a.p * b.p) AS BIGINT) AS q
       |        FROM ${p}piu a JOIN ${p}pui b ON a.u = b.u GROUP BY 1, 2),
       |${p}ss AS (SELECT s1, s2, q FROM (SELECT *, row_number() OVER
       |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM ${p}ssf)
       |  WHERE rs <= $neighbors),
       |${p}sc AS (SELECT ${p}pui.u, ${p}ss.s2,
       |         CAST(sum(${p}pui.p * ${p}ss.q) AS BIGINT) AS score
       |       FROM ${p}pui JOIN ${p}ss ON ${p}pui.i = ${p}ss.s1 GROUP BY 1, 2),
       |${p}unseen AS (SELECT ${p}sc.* FROM ${p}sc
       |           LEFT JOIN e ON ${p}sc.u = e.u AND ${p}sc.s2 = e.i
       |           WHERE e.u IS NULL AND ${p}sc.score > 0),
       |${p}recs AS (SELECT u, s2, score, CAST(rn AS BIGINT) AS rnk FROM
       |    (SELECT *, row_number() OVER
       |      (PARTITION BY u ORDER BY score DESC, s2) AS rn FROM ${p}unseen)
       |  WHERE rn <= $k)""".stripMargin

  /** RECIPROCAL-RANK-FUSION hybrid recommender
    * ([[graft.ops.GraphCF.rrfFuse]]): ItemKNN and P3alpha ranked lists —
    * built off ONE shared capped edge frame (the q168 pattern) — fused
    * by position (`10⁶ div (60 + rank)` per list, exact long sums), the
    * standard way a production ranker ensembles candidate generators
    * with incomparable score scales. The fused contribution is integer
    * division shared verbatim with the oracle, so the hybrid list is as
    * replayable as its inputs. */
  private val q186 = Q("q186_rrf_hybrid",
    (s, d) => {
      val inter = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val e = GraphCF.edges(inter, "cust", "supp", maxHistory = 50)
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // persist + materialize each model's top-k frame BEFORE fusing: a
      // single fused action would submit both models' quadratic co-walk
      // stages concurrently (they only share the cached edge frame), and
      // two partial-aggregation hash maps contending for the same heap
      // measurably thrash — 34.2 s fused vs 16.3 s staged at sf0.1/32t.
      // The materialized frames are |users|·k rows — trivially cheap.
      val kn = GraphCF.itemKnnRecsFromEdges(e, "cust", "supp",
        k = 10, neighbors = 20).persist(lvl)
      kn.count()
      val p3 = GraphCF.p3alphaRecsFromEdges(e, "cust", "supp",
        k = 10, neighbors = 20).persist(lvl)
      p3.count()
      GraphCF.rrfFuse(Seq(kn, p3), "cust", "supp", "rnk", k = 10)
        .orderBy(col("cust"), col("rnk"))
    },
    Some(s"""WITH $sqlFullEdgesCtes,
            |${sqlItemKnnChain("kn_", 20, 10)},
            |${sqlP3Chain("p3_", 20, 10)},
            |fx AS (SELECT u, i, CAST(sum(1000000 // (60 + rnk)) AS BIGINT)
            |         AS rrf_q
            |       FROM (SELECT u, s2 AS i, rnk FROM kn_recs
            |             UNION ALL SELECT u, s2 AS i, rnk FROM p3_recs)
            |       GROUP BY 1, 2),
            |fr AS (SELECT *, CAST(row_number() OVER (PARTITION BY u
            |    ORDER BY rrf_q DESC, i) AS BIGINT) AS rnk FROM fx)
            |SELECT u AS cust, i AS supp, rrf_q, rnk FROM fr WHERE rnk <= 10
            |ORDER BY cust, rnk""".stripMargin))

  /** LEAVE-LAST-BASKET-OUT evaluation protocol — each customer's most
    * recent order (latest o_orderdate, orderkey tie-break) held out as
    * the test set, ItemKNN trained on the rest, scored with the full
    * exact rank-metric suite ([[graft.model.Metrics.rankingMetricsQ]]).
    * The family's SECOND standard offline protocol beside q177's global
    * time cut (and the reference's random split): LOO evaluates every
    * user at their individual history frontier, so no user is lost to a
    * calendar boundary. The split is a per-user row_number window — an
    * exact, replayable cut, never a sampled one. */
  private val q187 = Q("q187_loo_eval",
    (s, d) => {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val ro = orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)))
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      def inter(o: org.apache.spark.sql.DataFrame) =
        o.join(li, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val test = inter(ro.filter(col("__rn") === 1)).distinct().persist(lvl)
      val recs = GraphCF.itemKnnRecs(inter(ro.filter(col("__rn") > 1)),
          "cust", "supp", k = 10, neighbors = 20, maxHistory = 50)
        .persist(lvl)
      graft.model.Metrics.rankingMetricsQ(recs, test, "cust", "supp",
          "rnk", 10)
        .orderBy(col("metric"))
    },
    Some(s"""WITH ro AS (SELECT o_orderkey, o_custkey, row_number() OVER
            |    (PARTITION BY o_custkey
            |     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            |  FROM orders),
            |te AS (SELECT DISTINCT o_custkey AS u, l_suppkey AS i
            |       FROM ro JOIN lineitem ON o_orderkey = l_orderkey
            |       WHERE rn = 1),
            |e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
            |    CAST(count(*) AS BIGINT) AS w
            |  FROM ro JOIN lineitem ON o_orderkey = l_orderkey
            |  WHERE rn > 1 GROUP BY 1, 2),
            |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
            |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
            |  WHERE rh <= 50),
            |${sqlItemKnnChain("", 20, 10)},
            |${sqlRankMetricsTail(10)}""".stripMargin))

  /** POPULARITY-BIAS metrics of the served ItemKNN lists
    * ([[graft.model.Metrics.recPopularityBiasQ]]): average
    * recommendation popularity plus head/torso/tail band shares of the
    * rec slots, bands cut on the SAME capped training edge mass the
    * model trained on (one shared edge frame feeds model, popularity
    * and bands — the q168/q180 pattern). q178 says how unevenly serving
    * spreads over the catalog; this says how hard it leans on the
    * training head — the pair a popularity-collapse diagnosis needs.
    * Every metric is an exact (num, den) long ratio. */
  private val q188 = Q("q188_rec_popularity_bias",
    (s, d) => {
      val inter = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val e = GraphCF.edges(inter, "cust", "supp", maxHistory = 50)
      val recs = GraphCF.itemKnnRecsFromEdges(e, "cust", "supp",
        k = 10, neighbors = 20)
      val pop = e.groupBy(col("i").as("supp")).agg(sum(col("w")).as("v"))
      graft.model.Metrics.recPopularityBiasQ(recs, pop, "supp", "v")
    },
    Some(s"""WITH $sqlFullEdgesCtes,
            |${sqlItemKnnChain("", 20, 10)},
            |pop AS (SELECT i, CAST(sum(w) AS BIGINT) AS v FROM e GROUP BY 1),
            |vc AS (SELECT v, CAST(count(*) AS BIGINT) AS c
            |       FROM pop GROUP BY 1),
            |vb AS (SELECT v, CAST(coalesce(sum(c) OVER (ORDER BY v
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            |    AS BIGINT) AS below FROM vc),
            |nf AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM pop),
            |ib AS (SELECT pop.i, pop.v,
            |         (3 * vb.below) // nf.n_items AS band_id
            |       FROM pop JOIN vb USING (v) CROSS JOIN nf),
            |rb AS (SELECT coalesce(ib.v, 0) AS v,
            |         coalesce(ib.band_id, 3) AS band_id
            |       FROM recs LEFT JOIN ib ON recs.s2 = ib.i),
            |ag AS (SELECT CAST(sum(v) AS BIGINT) AS arp_num,
            |    CAST(sum(CASE WHEN band_id = 2 THEN 1 ELSE 0 END) AS BIGINT)
            |      AS head_num,
            |    CAST(sum(CASE WHEN band_id = 1 THEN 1 ELSE 0 END) AS BIGINT)
            |      AS torso_num,
            |    CAST(sum(CASE WHEN band_id = 0 THEN 1 ELSE 0 END) AS BIGINT)
            |      AS tail_num,
            |    CAST(sum(CASE WHEN band_id = 3 THEN 1 ELSE 0 END) AS BIGINT)
            |      AS cold_num,
            |    CAST(count(*) AS BIGINT) AS den FROM rb)
            |SELECT * FROM (
            |  SELECT 'arp' AS metric, arp_num AS num, den,
            |    round(CAST(arp_num AS DOUBLE) / CAST(den AS DOUBLE), 6)
            |      AS value FROM ag
            |  UNION ALL SELECT 'cold_share', cold_num, den,
            |    round(CAST(cold_num AS DOUBLE) / CAST(den AS DOUBLE), 6)
            |    FROM ag
            |  UNION ALL SELECT 'head_share', head_num, den,
            |    round(CAST(head_num AS DOUBLE) / CAST(den AS DOUBLE), 6)
            |    FROM ag
            |  UNION ALL SELECT 'tail_share', tail_num, den,
            |    round(CAST(tail_num AS DOUBLE) / CAST(den AS DOUBLE), 6)
            |    FROM ag
            |  UNION ALL SELECT 'torso_share', torso_num, den,
            |    round(CAST(torso_num AS DOUBLE) / CAST(den AS DOUBLE), 6)
            |    FROM ag
            |) ORDER BY metric""".stripMargin))

  /** The (cust, bsk, ts, supp) basket-interaction frame the Markov
    * family trains on — orders×lineitem with the order as the basket. */
  private def custSuppBasketFrame(s: org.apache.spark.sql.SparkSession,
                                  d: String): org.apache.spark.sql.DataFrame =
    orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("o_orderkey").as("bsk"),
        col("o_orderdate").as("ts"), col("l_suppkey").as("supp"))

  /** Shared oracle for the Markov next-basket recommender (q189 direct,
    * q190 off the standing transition store — the store fold must
    * hash-match this ONE-SHOT build, the q173/q182 equality proof). */
  private val markovRecsSql: String =
    """WITH bi0 AS (SELECT o_custkey AS u, o_orderkey AS b, o_orderdate AS t,
      |    l_suppkey AS i, CAST(count(*) AS BIGINT) AS w
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2, 3, 4),
      |bic AS (SELECT u, b, t, i FROM (SELECT bi0.*, row_number() OVER
      |    (PARTITION BY u, b ORDER BY w DESC, i) AS rw FROM bi0)
      |  WHERE rw <= 8),
      |bi AS (SELECT u, b, i, CAST(dense_rank() OVER
      |    (PARTITION BY u ORDER BY t, b) AS BIGINT) AS rb FROM bic),
      |tr AS (SELECT a.i AS prev, c.i AS next, CAST(count(*) AS BIGINT) AS cnt
      |       FROM bi a JOIN bi c ON a.u = c.u AND c.rb = a.rb + 1
      |       GROUP BY 1, 2),
      |tt AS (SELECT prev, next, cnt FROM (SELECT tr.*, row_number() OVER
      |    (PARTITION BY prev ORDER BY cnt DESC, next) AS rt FROM tr)
      |  WHERE rt <= 20),
      |lastb AS (SELECT bi.u, bi.i FROM bi JOIN (SELECT u, max(rb) AS rb
      |    FROM bi GROUP BY 1) m ON bi.u = m.u AND bi.rb = m.rb),
      |sc AS (SELECT lastb.u, tt.next, CAST(sum(tt.cnt) AS BIGINT) AS score
      |       FROM lastb JOIN tt ON lastb.i = tt.prev GROUP BY 1, 2),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY u
      |    ORDER BY score DESC, next) AS BIGINT) AS rnk FROM sc)
      |SELECT u AS cust, next AS supp, score, rnk FROM r WHERE rnk <= 10
      |ORDER BY cust, rnk""".stripMargin

  /** MARKOV NEXT-BASKET recommender
    * ([[graft.ops.GraphCF.markovRecs]]): the sequence-aware model the
    * neighborhood family lacks — item→item transition counts between
    * each user's CONSECUTIVE orders (first-order Markov, the FMC
    * baseline of Rendle et al. 2010), served from the user's LAST
    * basket. Unlike the discovery recommenders, repurchases are in
    * scope (no seen-item anti-join — next-basket semantics). Exact long
    * counts end-to-end, no quantization; basket width capped at 8
    * (multiplicity desc, id tie-break — the replayable cut that bounds
    * the transition fanout at #baskets·64). */
  private val q189 = Q("q189_markov_next_basket",
    (s, d) => GraphCF.markovRecs(custSuppBasketFrame(s, d),
        "cust", "bsk", "ts", "supp", k = 10, neighbors = 20, maxBasket = 8)
      .orderBy(col("cust"), col("rnk")),
    Some(markovRecsSql))

  /** The Markov recommender served OFF THE STANDING TRANSITION STORE
    * ([[graft.ops.GraphCF.writeTransitionBatch]] /
    * [[graft.ops.GraphCF.transitionsFromStore]]): the log lands as four
    * USER-SHARDED per-batch (prev, next, cnt) partials (a user's whole
    * history in one batch — transitions are within-user statistics, the
    * q176 unit lesson applied to sequence models), batch-keyed overwrite
    * = replay-idempotent, and the fold is one groupBy of additive
    * counts. SHARES q189's oracle — the hash match IS the
    * store-equals-rebuild proof (the q173/q182/q175 pattern). Serving
    * reads only each user's last basket from the live log. */
  private val q190 = Q("q190_markov_from_store",
    (s, d) => {
      transitionStore(s, d, "q190_trans")
      val dir = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "q190_trans").toString
      GraphCF.markovRecsFromStore(s, dir, custSuppBasketFrame(s, d),
          "cust", "bsk", "ts", "supp", k = 10, neighbors = 20, maxBasket = 8)
        .orderBy(col("cust"), col("rnk"))
    },
    Some(markovRecsSql))

  /** q190's store build: the basket log lands as four user-sharded
    * transition partials (fresh directory per run). */
  private def transitionStore(s: org.apache.spark.sql.SparkSession,
                              d: String, name: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), name)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
    // persist across the four batch-write actions (the custSuppEdgeStore
    // pattern): 4 scan+join passes → 1
    val inter = custSuppBasketFrame(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      (0L until 4L).foreach { b =>
        GraphCF.writeTransitionBatch(
          inter.filter(pmod(col("cust"), lit(4L)) === b),
          "cust", "bsk", "ts", "supp", maxBasket = 8,
          path = dir.toString, batchId = b)
      }
    } finally inter.unpersist(blocking = false)
  }

  /** The Markov next-basket model under the SAME leave-last-basket-out
    * split and exact rank-metric suite as q187's ItemKNN — sequence
    * awareness vs neighborhood signal as a two-query diff (the
    * q177-vs-q179 comparative pattern): train on every order but the
    * last, hold the last order's items out, serve from the last TRAIN
    * basket. The one protocol where a next-basket model is actually at
    * home — q187's discovery models exclude repurchases by construction;
    * the Markov arm predicts them. */
  private val q191 = Q("q191_markov_loo_eval",
    (s, d) => {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val ro = orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)))
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      val test = ro.filter(col("__rn") === 1)
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct().persist(lvl)
      val train = ro.filter(col("__rn") > 1)
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("o_orderkey").as("bsk"),
          col("o_orderdate").as("ts"), col("l_suppkey").as("supp"))
      val recs = GraphCF.markovRecs(train, "cust", "bsk", "ts", "supp",
          k = 10, neighbors = 20, maxBasket = 8)
        .persist(lvl)
      graft.model.Metrics.rankingMetricsQ(recs, test, "cust", "supp",
          "rnk", 10)
        .orderBy(col("metric"))
    },
    Some(s"""WITH ro AS (SELECT o_orderkey, o_custkey, o_orderdate,
            |    row_number() OVER (PARTITION BY o_custkey
            |     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            |  FROM orders),
            |te AS (SELECT DISTINCT o_custkey AS u, l_suppkey AS i
            |       FROM ro JOIN lineitem ON o_orderkey = l_orderkey
            |       WHERE rn = 1),
            |bi0 AS (SELECT o_custkey AS u, o_orderkey AS b, o_orderdate AS t,
            |    l_suppkey AS i, CAST(count(*) AS BIGINT) AS w
            |  FROM ro JOIN lineitem ON o_orderkey = l_orderkey
            |  WHERE rn > 1 GROUP BY 1, 2, 3, 4),
            |bic AS (SELECT u, b, t, i FROM (SELECT bi0.*, row_number() OVER
            |    (PARTITION BY u, b ORDER BY w DESC, i) AS rw FROM bi0)
            |  WHERE rw <= 8),
            |bi AS (SELECT u, b, i, CAST(dense_rank() OVER
            |    (PARTITION BY u ORDER BY t, b) AS BIGINT) AS rb FROM bic),
            |tr AS (SELECT a.i AS prev, c.i AS next,
            |         CAST(count(*) AS BIGINT) AS cnt
            |       FROM bi a JOIN bi c ON a.u = c.u AND c.rb = a.rb + 1
            |       GROUP BY 1, 2),
            |tt AS (SELECT prev, next, cnt FROM (SELECT tr.*, row_number() OVER
            |    (PARTITION BY prev ORDER BY cnt DESC, next) AS rt FROM tr)
            |  WHERE rt <= 20),
            |lastb AS (SELECT bi.u, bi.i FROM bi JOIN (SELECT u, max(rb) AS rb
            |    FROM bi GROUP BY 1) m ON bi.u = m.u AND bi.rb = m.rb),
            |scm AS (SELECT lastb.u, tt.next, CAST(sum(tt.cnt) AS BIGINT)
            |         AS score
            |       FROM lastb JOIN tt ON lastb.i = tt.prev GROUP BY 1, 2),
            |recs AS (SELECT u, next AS s2, CAST(rn AS BIGINT) AS rnk FROM
            |    (SELECT *, row_number() OVER
            |      (PARTITION BY u ORDER BY score DESC, next) AS rn FROM scm)
            |  WHERE rn <= 10),
            |${sqlRankMetricsTail(10)}""".stripMargin))

  /** RECENCY-WEIGHTED ItemKNN ([[graft.ops.GraphCF.edgesWeighted]]):
    * interaction rows carry a power-of-two recency weight
    * (2^(6 − age_years), the [[graft.ops.Behavior.decayedCounts]] idiom
    * — every weight a whole power of two keeps all downstream sums
    * order-free long arithmetic), so recent signal dominates norms,
    * similarities AND the history cap (the top-50 cut now keeps each
    * user's freshest-heaviest edges, not their oldest-heaviest). The
    * standard production freshness lever, composed from two existing
    * exact mechanisms; the cosineSimQ overflow budget still gates the
    * weighted norms at runtime. */
  private val q192 = Q("q192_decayed_knn",
    (s, d) => {
      val inter = orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"),
          // exponent clamped at 0 so dates older than the 6-year decay
          // horizon get weight 1 (not a fractional pow → 0-weight edge
          // that would trip edgesWeighted's positive-weight tripwire)
          expr("CAST(pow(2, greatest(0, 6 - (2001 - year(o_orderdate))))" +
            " AS BIGINT)").as("wt"))
      val e = GraphCF.edgesWeighted(inter, "cust", "supp", "wt",
        maxHistory = 50)
      GraphCF.itemKnnRecsFromEdges(e, "cust", "supp", k = 10,
          neighbors = 20)
        .orderBy(col("cust"), col("rnk"))
    },
    Some(s"""WITH e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
            |    CAST(sum(CAST(pow(2, greatest(0, 6 - (2001 -
            |      year(o_orderdate)))) AS BIGINT)) AS BIGINT) AS w
            |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            |  GROUP BY 1, 2),
            |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
            |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
            |  WHERE rh <= 50),
            |${sqlItemKnnChain("", 20, 10)}
            |SELECT u AS cust, s2 AS supp, score, rnk FROM recs
            |ORDER BY cust, rnk""".stripMargin))

  /** CALIBRATION of the served lists against user history
    * ([[graft.model.Metrics.calibrationTvQ]], Steck 2018 with exact
    * total-variation distance): supplier NATION is the category — per
    * user, how far the rec list's nation mix drifts from the history's
    * nation mix, as one exact micro-unit mean. The "does
    * personalization collapse the user's taste profile?" diagnostic
    * beside q188's global popularity lean. Model, history and
    * categories all derive from ONE shared capped edge frame; the
    * nation dimension broadcasts. */
  private val q193 = Q("q193_rec_calibration",
    (s, d) => {
      val inter = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val e = GraphCF.edges(inter, "cust", "supp", maxHistory = 50)
      val recs = GraphCF.itemKnnRecsFromEdges(e, "cust", "supp",
        k = 10, neighbors = 20)
      val nation = broadcast(supplier(s, d)
        .select(col("s_suppkey").as("supp"),
          col("s_nationkey").cast("long").as("cat")))
      graft.model.Metrics.calibrationTvQ(
        recs.join(nation, "supp"),
        e.select(col("u").as("cust"), col("i").as("supp"), col("w"))
          .join(nation, "supp"),
        "cust", "cat", "w")
    },
    Some(s"""WITH $sqlFullEdgesCtes,
            |${sqlItemKnnChain("", 20, 10)},
            |nat AS (SELECT s_suppkey AS i, CAST(s_nationkey AS BIGINT) AS c
            |        FROM supplier),
            |h AS (SELECT e.u, nat.c, CAST(sum(e.w) AS BIGINT) AS hn
            |      FROM e JOIN nat USING (i) GROUP BY 1, 2),
            |r AS (SELECT recs.u, nat.c, CAST(count(*) AS BIGINT) AS rn
            |      FROM recs JOIN nat ON recs.s2 = nat.i GROUP BY 1, 2),
            |hd AS (SELECT u, CAST(sum(hn) AS BIGINT) AS hden
            |       FROM h GROUP BY 1),
            |rd AS (SELECT u, CAST(sum(rn) AS BIGINT) AS rden
            |       FROM r GROUP BY 1),
            |f AS (SELECT coalesce(h.u, r.u) AS u, coalesce(hn, 0) AS hn,
            |        coalesce(rn, 0) AS rn
            |      FROM h FULL JOIN r ON h.u = r.u AND h.c = r.c),
            |pu AS (SELECT f.u,
            |         (CAST(sum(abs(hn * rden - rn * hden)) AS BIGINT)
            |           * 1000000) // (2 * hden * rden) AS tv_q
            |       FROM f JOIN hd ON f.u = hd.u JOIN rd ON f.u = rd.u
            |       GROUP BY f.u, hden, rden)
            |SELECT 'calibration_tv' AS metric,
            |  CAST(count(*) AS BIGINT) AS n_users,
            |  CAST(sum(tv_q) AS BIGINT) AS sum_q,
            |  round(CAST(sum(tv_q) AS DOUBLE)
            |    / CAST(count(*) * 1000000 AS DOUBLE), 6) AS mean_value
            |FROM pu""".stripMargin))

  /** MODEL-AGREEMENT histogram — per-user overlap between ItemKNN's and
    * P3alpha's top-10 lists (users served by both), as (overlap,
    * n_users) rows: the diagnostic that justifies q186's fusion — RRF
    * only buys anything where the candidate generators DISAGREE, and
    * this is that disagreement measured. Exact integers end-to-end;
    * both models off ONE shared capped edge frame, staged like q186. */
  private val q194 = Q("q194_model_overlap",
    (s, d) => {
      val inter = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val e = GraphCF.edges(inter, "cust", "supp", maxHistory = 50)
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val kn = GraphCF.itemKnnRecsFromEdges(e, "cust", "supp",
        k = 10, neighbors = 20).persist(lvl)
      kn.count()
      val p3 = GraphCF.p3alphaRecsFromEdges(e, "cust", "supp",
        k = 10, neighbors = 20).persist(lvl)
      p3.count()
      val common = kn.select(col("cust"), col("supp"))
        .join(p3.select(col("cust"), col("supp")), Seq("cust", "supp"))
        .groupBy(col("cust")).agg(count(lit(1)).as("o"))
      kn.select(col("cust")).distinct()
        .join(p3.select(col("cust")).distinct(), "cust")
        .join(common, Seq("cust"), "left")
        .select(coalesce(col("o"), lit(0L)).as("overlap"))
        .groupBy(col("overlap")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("overlap"))
    },
    Some(s"""WITH $sqlFullEdgesCtes,
            |${sqlItemKnnChain("kn_", 20, 10)},
            |${sqlP3Chain("p3_", 20, 10)},
            |common AS (SELECT a.u, CAST(count(*) AS BIGINT) AS o
            |           FROM kn_recs a JOIN p3_recs b
            |             ON a.u = b.u AND a.s2 = b.s2 GROUP BY 1),
            |bth AS (SELECT DISTINCT a.u FROM kn_recs a
            |         JOIN (SELECT DISTINCT u FROM p3_recs) b ON a.u = b.u),
            |ov AS (SELECT coalesce(common.o, 0) AS overlap FROM bth
            |       LEFT JOIN common ON bth.u = common.u)
            |SELECT overlap, CAST(count(*) AS BIGINT) AS n_users
            |FROM ov GROUP BY 1 ORDER BY overlap""".stripMargin))

  /** SERENDIPITY of the personalized model (Ge et al. 2010's
    * unexpectedness-with-relevance): of P3alpha's held-out HITS on the
    * q177 time split, the share the POPULARITY CONTROL would not have
    * served that user — a hit also sitting in the user's top-10
    * popularity list is relevance the model gets for free; the
    * serendipitous remainder is what personalization actually earned.
    * Completes the eval suite's third axis (accuracy q177, diversity
    * q178/q171, novelty q188 — this is the per-user-relevant form of
    * novelty). Exact counts; model and control share the split; the
    * control's bounded broadcast pool is q179's machinery. */
  private val q195 = Q("q195_serendipity",
    (s, d) => {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val cut = lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00"))
      val ordAll = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"))
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      def inter(o: org.apache.spark.sql.DataFrame) =
        o.join(li, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val train = inter(ordAll.filter(col("o_orderdate") < cut))
      val test = inter(ordAll.filter(col("o_orderdate") >= cut))
        .distinct().persist(lvl)
      val e = GraphCF.edges(train, "cust", "supp", maxHistory = 50)
      val recs = GraphCF.p3alphaRecsFromEdges(e, "cust", "supp",
          k = 10, neighbors = 20)
        .persist(lvl)
      val popArm = GraphCF.popularityRecs(train, "cust", "supp",
        k = 10, maxHistory = 50)
      val hits = recs.join(test, Seq("cust", "supp")).persist(lvl)
      val ser = hits.join(popArm.select(col("cust"), col("supp")),
        Seq("cust", "supp"), "left_anti")
      val ev = recs.select(col("cust")).distinct()
        .join(test.select(col("cust")).distinct(), "cust")
        .agg(count(lit(1)).as("n_users"))
      ev.crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .crossJoin(ser.agg(count(lit(1)).as("n_serendipitous")))
        .select(col("n_users"), col("n_hits"), col("n_serendipitous"),
          when(col("n_hits") === 0L, lit(null))
            .otherwise(round(col("n_serendipitous").cast("double") /
              col("n_hits").cast("double"), 6)).as("serendipity_share"))
    },
    Some(s"""WITH $sqlP3SplitRecsCtes,
            |pop AS (SELECT i, CAST(sum(w) AS BIGINT) AS pop
            |        FROM e GROUP BY 1),
            |us AS (SELECT DISTINCT u FROM e),
            |cand AS (SELECT us.u, pop.i, pop.pop FROM us CROSS JOIN pop),
            |uns AS (SELECT cand.* FROM cand
            |        LEFT JOIN e ON cand.u = e.u AND cand.i = e.i
            |        WHERE e.u IS NULL),
            |poprecs AS (SELECT u, i FROM (SELECT *, row_number() OVER
            |      (PARTITION BY u ORDER BY pop DESC, i) AS rn FROM uns)
            |  WHERE rn <= 10),
            |hits AS (SELECT recs.u, recs.s2 FROM recs
            |         JOIN te ON recs.u = te.u AND recs.s2 = te.i),
            |ser AS (SELECT hits.* FROM hits
            |        LEFT JOIN poprecs ON hits.u = poprecs.u
            |          AND hits.s2 = poprecs.i
            |        WHERE poprecs.u IS NULL),
            |ev AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM
            |    (SELECT DISTINCT r.u FROM (SELECT DISTINCT u FROM recs) r
            |     JOIN (SELECT DISTINCT u FROM te) t ON r.u = t.u)),
            |hh AS (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM hits),
            |ss2 AS (SELECT CAST(count(*) AS BIGINT) AS n_serendipitous
            |        FROM ser)
            |SELECT ev.n_users, hh.n_hits, ss2.n_serendipitous,
            |  CASE WHEN hh.n_hits = 0 THEN NULL
            |       ELSE round(CAST(ss2.n_serendipitous AS DOUBLE)
            |         / CAST(hh.n_hits AS DOUBLE), 6) END
            |    AS serendipity_share
            |FROM ev CROSS JOIN hh CROSS JOIN ss2""".stripMargin))

  /** The RELATED-ITEMS endpoint ([[graft.ops.GraphCF.similarItems]])
    * served off the standing edge store: top-10 most-similar items PER
    * ITEM through the guarded cosine — the OTHER serving surface of an
    * item-item recommender (every item page hits it; per-user recs are
    * q163/q173). The store fold replaces the raw-log aggregation, so
    * the endpoint refreshes from standing state; the one-shot oracle
    * over the full log is the store-equals-rebuild proof (the q173
    * pattern applied to the similarity frame itself). */
  private val q196 = Q("q196_related_items",
    (s, d) => {
      val dir = custSuppEdgeStore(s, d, "q196_edges")
      GraphCF.similarItemsFromStore(s, dir, neighbors = 10,
          maxHistory = 50)
        .orderBy(col("item"), col("rnk"))
    },
    Some(s"""WITH $sqlFullEdgesCtes,
            |nrm AS (SELECT i, CAST(sum(w * w) AS BIGINT) AS nrm
            |        FROM e GROUP BY 1),
            |co AS (SELECT a.i AS s1, b.i AS s2,
            |         CAST(sum(a.w * b.w) AS BIGINT) AS c
            |       FROM e a JOIN e b ON a.u = b.u AND a.i <> b.i
            |       GROUP BY 1, 2),
            |sim AS (SELECT s1, s2,
            |          CAST(floor(c * 10000 / sqrt(n1.nrm * n2.nrm))
            |            AS BIGINT) AS q
            |        FROM co JOIN nrm n1 ON co.s1 = n1.i
            |                JOIN nrm n2 ON co.s2 = n2.i),
            |r AS (SELECT s1, s2, q, CAST(row_number() OVER
            |    (PARTITION BY s1 ORDER BY q DESC, s2) AS BIGINT) AS rnk
            |  FROM sim WHERE q > 0)
            |SELECT s1 AS item, s2 AS neighbor, q, rnk FROM r
            |WHERE rnk <= 10 ORDER BY item, rnk""".stripMargin))

  /** USER-activity-stratified recall — q180's cut TRANSPOSED to the
    * user axis: recall@10 of the q177 P3alpha frame split by the
    * evaluated user's TRAINING activity band (light/medium/heavy
    * terciles of capped train edge mass, the same exact
    * (3·below) div n integer cut via globalCumBelow on the
    * distinct-mass frame). The "do light users get anything?" check —
    * per-user history length is THE covariate a collaborative model's
    * quality tracks, and aggregate recall hides the light-user cliff.
    * Users absent from training have no recs and drop under the
    * evaluated-users contract, so the three bands partition the output
    * exactly. */
  private val q197 = Q("q197_user_stratified_recall",
    (s, d) => {
      import s.implicits._
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val cut = lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00"))
      val ordAll = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"))
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      def inter(o: org.apache.spark.sql.DataFrame) =
        o.join(li, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val train = inter(ordAll.filter(col("o_orderdate") < cut))
      val test = inter(ordAll.filter(col("o_orderdate") >= cut))
        .distinct().persist(lvl)
      val e = GraphCF.edges(train, "cust", "supp", maxHistory = 50)
      val recs = GraphCF.p3alphaRecsFromEdges(e, "cust", "supp",
          k = 10, neighbors = 20)
        .persist(lvl)
      val deg = e.groupBy(col("u")).agg(sum(col("w")).as("v"))
        .persist(lvl)
      val vc = deg.groupBy(col("v")).agg(count(lit(1)).as("c"))
      val bandOfValue = Relational.globalCumBelow(vc, "v", "c", "below")
        .crossJoin(broadcast(deg.agg(count(lit(1)).as("nu"))))
        .select(col("v"), expr("(3 * below) div nu").as("band_id"))
      val userBand = deg.join(bandOfValue, "v")
        .select(col("u").as("cust"), col("band_id"))
      val bandName = typedLit(Map(0L -> "light", 1L -> "medium",
        2L -> "heavy"))
      val teB = test
        .join(recs.select(col("cust")).distinct(), Seq("cust"), "left_semi")
        .join(userBand, "cust")
        .select(col("cust"), col("supp"),
          element_at(bandName, col("band_id")).as("band"))
        .persist(lvl)
      val hits = recs.join(teB, Seq("cust", "supp"))
        .groupBy(col("band")).agg(count(lit(1)).as("n_hits"))
      teB.groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
        .join(hits, Seq("band"), "left")
        .select(col("band"), col("n_pairs"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall_at_10",
          round(col("n_hits").cast("double") / col("n_pairs").cast("double"), 6))
        .orderBy(col("band"))
    },
    Some(s"""WITH $sqlP3SplitRecsCtes,
            |deg AS (SELECT u, CAST(sum(w) AS BIGINT) AS v FROM e GROUP BY 1),
            |vc AS (SELECT v, CAST(count(*) AS BIGINT) AS c
            |       FROM deg GROUP BY 1),
            |vb AS (SELECT v, CAST(coalesce(sum(c) OVER (ORDER BY v
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            |    AS BIGINT) AS below FROM vc),
            |nf AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM deg),
            |ub AS (SELECT deg.u, (3 * vb.below) // nf.nu AS band_id
            |       FROM deg JOIN vb USING (v) CROSS JOIN nf),
            |teb AS (SELECT te.u, te.i,
            |          CASE ub.band_id WHEN 0 THEN 'light'
            |            WHEN 1 THEN 'medium' ELSE 'heavy' END AS band
            |        FROM te
            |        JOIN (SELECT DISTINCT u FROM recs) ru ON te.u = ru.u
            |        JOIN ub ON te.u = ub.u),
            |hits AS (SELECT teb.band, CAST(count(*) AS BIGINT) AS n_hits
            |         FROM recs JOIN teb
            |           ON recs.u = teb.u AND recs.s2 = teb.i
            |         GROUP BY 1),
            |pairs AS (SELECT band, CAST(count(*) AS BIGINT) AS n_pairs
            |          FROM teb GROUP BY 1)
            |SELECT pairs.band, pairs.n_pairs,
            |       coalesce(hits.n_hits, 0) AS n_hits,
            |       round(CAST(coalesce(hits.n_hits, 0) AS DOUBLE)
            |         / CAST(pairs.n_pairs AS DOUBLE), 6) AS recall_at_10
            |FROM pairs LEFT JOIN hits USING (band)
            |ORDER BY pairs.band""".stripMargin))

  /** The NORMALITY-GATED A/B decision
    * ([[graft.stats.AbDecision.decideNormalityGated]] — the reference's
    * actual test-selection flow, ab_test.py:288-302): Shapiro-Wilk per
    * arm (distributed order-statistics reduction to AS R94's ≤ 5000
    * range, driver reads ≤ 5000 values per arm) gates parametric t vs
    * rank-sum, closing the last spec-only X-row branch end-to-end. The
    * event value distribution is decisively right-skewed (skew ≈ 2) at
    * every gate scale, so the gate robustly rejects normality and the
    * RANK-SUM row carries the readout — test_name and both verdicts are
    * pinned decision points the oracle asserts (the normality rows carry
    * the COARSE 'reject'/'accept' verdict, no finer band than the gate
    * needs, so p drift within a verdict never knife-edges the pin — and
    * a p landing within pinEps of alpha raises loudly instead of
    * hash-matching a stale literal), the sample sizes and the z
    * statistic are fully replayed (the q174 rank-sum algebra). A wrong
    * W, p transform, or gate flips a pinned row and the hash catches it;
    * W's numeric path is pinned by TestsSpec + AbGateSpec. */
  private val q198 = Q("q198_ab_normality_gate",
    (s, d) => graft.stats.AbDecision.decideNormalityGated(events(s, d),
      when(pmod(col("user_id"), lit(2L)) === 0L, lit("A")).otherwise(lit("B")),
      col("value")),
    Some("""WITH ev AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B'
           |    END AS grp, value FROM events),
           |a AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM ev
           |      WHERE grp = 'A'),
           |b AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM ev
           |      WHERE grp = 'B'),
           |bv AS (SELECT value, CAST(count(*) AS BIGINT) AS c,
           |         CAST(count(*) FILTER (grp = 'A') AS BIGINT) AS ca
           |       FROM ev GROUP BY 1),
           |rk AS (SELECT c, ca, CAST(coalesce(sum(c) OVER (ORDER BY value
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |         AS BIGINT) AS below FROM bv),
           |rs AS (SELECT CAST(sum(ca * (2 * below + c + 1)) AS BIGINT)
           |         AS sra2 FROM rk),
           |c4 AS (SELECT n1, n2,
           |         round((sra2 / 2.0 - n1 * ((n1 + n2) + 1) / 2.0)
           |           / sqrt(CAST(n1 AS DOUBLE) * n2 * ((n1 + n2) + 1)
           |             / 12.0), 6) AS z_stat
           |       FROM a, b, rs)
           |SELECT * FROM (
           |  SELECT 'normality_a' AS test_name,
           |    CAST(least(n1, 5000) AS DOUBLE) AS statistic,
           |    'reject' AS p_band, TRUE AS reject_null FROM c4
           |  UNION ALL
           |  SELECT 'normality_b', CAST(least(n2, 5000) AS DOUBLE),
           |    'reject', TRUE FROM c4
           |  UNION ALL
           |  SELECT 'rank_sum', z_stat,
           |    CASE WHEN abs(z_stat) > 3.290527 THEN '<0.001'
           |         WHEN abs(z_stat) > 2.575829 THEN '<0.01'
           |         WHEN abs(z_stat) > 1.959964 THEN '<0.05'
           |         ELSE '>=0.05' END,
           |    abs(z_stat) > 1.959964 FROM c4
           |) ORDER BY test_name""".stripMargin))

  /** INCREMENTAL user-user co-occurrence maintenance
    * ([[graft.ops.GraphCF.foldUserCoDelta]] — the transpose of q172's
    * item-side fold, closing incremental similarity maintenance for ALL
    * THREE neighborhood models): the standing user-co frame folds the
    * 2001+ interactions forward with only the TOUCHED ITEMS paying the
    * quadratic leg (Σ_touched min(aud, A)²), handling the history-cap
    * wrinkle exactly — a delta can evict an item from a user's top-50,
    * changing an un-delta'd item's audience, and the fold's
    * touched-item set is computed from the capped-frame diff so that
    * case folds exactly too (GraphCFSpec pins it). Both q184 caps apply
    * (maxHistory = maxAudience = 50); similarities re-derive through the
    * shared guarded [[graft.ops.GraphCF.cosineSimQ]] (user-sized norms →
    * shuffle-join mode); the oracle replays the ONE-SHOT build over the
    * full log, so the hash match IS incremental == rebuild. */
  private val q199 = Q("q199_incremental_userco",
    (s, d) => {
      val cut = lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00"))
      val ordAll = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"))
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      def inter(o: org.apache.spark.sql.DataFrame) =
        o.join(li, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val older = inter(ordAll.filter(col("o_orderdate") < cut))
      val delta = inter(ordAll.filter(col("o_orderdate") >= cut))
      val oldCo = GraphCF.userCoCounts(older, "cust", "supp",
        maxHistory = 50, maxAudience = 50)
      val co = GraphCF.foldUserCoDelta(older, delta, "cust", "supp", oldCo,
        maxHistory = 50, maxAudience = 50)
      // user norms from the NEW standing frame, capped exactly as q184
      val e = GraphCF.edges(inter(ordAll), "cust", "supp", maxHistory = 50)
      val ea = Relational.topKPerGroup(e, Seq(col("i")),
          Seq(col("w").desc, col("u")), 50, rankName = "__ra")
        .drop("__ra")
      val nrm = ea.groupBy(col("u").as("i"))
        .agg(sum(col("w") * col("w")).as("nrm"))
      val sim = GraphCF.cosineSimQ(co, nrm, scale = 10000L,
        broadcastNorms = false)
      Relational.topKPerGroup(sim, Seq(col("s1")),
          Seq(col("q").desc, col("s2")), 10)
        .select(col("s1").as("cust"), col("s2").as("other"), col("q"),
          col("rn"))
        .orderBy(col("cust"), col("rn"))
    },
    Some("""WITH e0 AS (SELECT o_custkey AS u, l_suppkey AS i,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |  GROUP BY 1, 2),
           |e AS (SELECT u, i, w FROM (SELECT e0.*, row_number() OVER
           |    (PARTITION BY u ORDER BY w DESC, i) AS rh FROM e0)
           |  WHERE rh <= 50),
           |ea AS (SELECT u, i, w FROM (SELECT e.*, row_number() OVER
           |    (PARTITION BY i ORDER BY w DESC, u) AS ra FROM e)
           |  WHERE ra <= 50),
           |nrm AS (SELECT u, CAST(sum(w * w) AS BIGINT) AS nrm
           |        FROM ea GROUP BY 1),
           |co AS (SELECT a.u AS s1, b.u AS s2,
           |         CAST(sum(a.w * b.w) AS BIGINT) AS c
           |       FROM ea a JOIN ea b ON a.i = b.i AND a.u <> b.u
           |       GROUP BY 1, 2),
           |sim AS (SELECT s1, s2, CAST(floor(c * 10000 / sqrt(n1.nrm * n2.nrm))
           |          AS BIGINT) AS q
           |        FROM co JOIN nrm n1 ON co.s1 = n1.u
           |                JOIN nrm n2 ON co.s2 = n2.u)
           |SELECT s1 AS cust, s2 AS other, q, CAST(rs AS BIGINT) AS rn
           |FROM (SELECT *, row_number() OVER
           |    (PARTITION BY s1 ORDER BY q DESC, s2) AS rs FROM sim
           |  WHERE q > 0)
           |WHERE rs <= 10 ORDER BY cust, rn""".stripMargin))

  /** ASSOCIATION RULES over order baskets
    * ([[graft.ops.GraphCF.liftRules]] — support/confidence/lift, the
    * classical "customers also bought" serving surface): top-5
    * consequent suppliers per antecedent by exact quantized lift, both
    * ratios integer divisions DuckDB `//` replays bit-exactly, supports
    * exact distinct-basket counts. The Apriori prune (minSupport = 3)
    * runs before the basket-keyed pair join — at 100 TB the prune plus
    * the basket cap is what bounds the pair fanout at #baskets·B². */
  private val q200 = Q("q200_assoc_rules",
    (s, d) => {
      val inter = orders(s, d).select(col("o_orderkey"))
        .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey").as("bsk"), col("l_suppkey").as("supp"))
      GraphCF.liftRules(inter, "bsk", "supp", minSupport = 3L, k = 5)
        .orderBy(col("ante"), col("rnk"))
    },
    Some(assocRulesSql))

  /** Shared oracle of q200/q201: the ONE-SHOT rule build over the full
    * basket log — q201 serving off the statistics store must hash-match
    * it, which IS the store == rebuild proof (the q190/q182 pattern). */
  private lazy val assocRulesSql: String =
    """WITH bi AS (SELECT DISTINCT o_orderkey AS b, l_suppkey AS i
           |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |itn AS (SELECT i, CAST(count(*) AS BIGINT) AS s FROM bi
           |        GROUP BY 1),
           |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM bi),
           |freq AS (SELECT i FROM itn WHERE s >= 3),
           |bif AS (SELECT bi.b, bi.i FROM bi JOIN freq USING (i)),
           |pr AS (SELECT a.i AS ante, c.i AS cons,
           |         CAST(count(*) AS BIGINT) AS pair_n
           |       FROM bif a JOIN bif c ON a.b = c.b AND a.i <> c.i
           |       GROUP BY 1, 2),
           |sc AS (SELECT ante, cons, pair_n, sa.s AS ante_n,
           |         sc2.s AS cons_n,
           |         (1000000 * pair_n) // sa.s AS conf_q,
           |         (1000000 * nb.n * pair_n) // (sa.s * sc2.s) AS lift_q
           |       FROM pr JOIN itn sa ON pr.ante = sa.i
           |            JOIN itn sc2 ON pr.cons = sc2.i CROSS JOIN nb
           |       WHERE pair_n >= 3)
           |SELECT ante, cons, pair_n, ante_n, cons_n, conf_q, lift_q,
           |       CAST(rn AS BIGINT) AS rnk
           |FROM (SELECT *, row_number() OVER
           |    (PARTITION BY ante ORDER BY lift_q DESC, cons) AS rn FROM sc)
           |WHERE rn <= 5 ORDER BY ante, rnk""".stripMargin

  /** ASSOCIATION RULES served off the STANDING statistics store
    * ([[graft.ops.GraphCF.writeRuleStatsBatch]] /
    * [[graft.ops.GraphCF.liftRulesFromStore]]): the basket log lands as
    * four basket-sharded partials (item supports, UNPRUNED pair counts,
    * basket counts — all additive over disjoint baskets; the Apriori
    * prune is global, so it runs at serve time, never in a batch), and
    * the rules fold from the store. SHARED one-shot oracle with q200 —
    * the hash match IS store == rebuild, closing the standing-state
    * story for this family too (every recommender surface now serves
    * from a maintained store). */
  private val q201 = Q("q201_assoc_from_store",
    (s, d) => {
      val dir = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "q201_rules")
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(dir)) fs.delete(dir, true)
      // persist across the four batch-write actions (the
      // custSuppEdgeStore pattern): 4 scan+join passes → 1
      val inter = orders(s, d).select(col("o_orderkey"))
        .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey").as("bsk"), col("l_suppkey").as("supp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        (0L until 4L).foreach { b =>
          GraphCF.writeRuleStatsBatch(
            inter.filter(pmod(col("bsk"), lit(4L)) === b),
            "bsk", "supp", Int.MaxValue, dir.toString, b)
        }
      } finally inter.unpersist(blocking = false)
      GraphCF.liftRulesFromStore(s, dir.toString, minSupport = 3L, k = 5)
        .orderBy(col("ante"), col("rnk"))
    },
    Some(assocRulesSql))

  val all: Seq[Q] = Seq(q40, q41, q42, q43, q44, q45, q46, q47, q48, q49, q50,
    q51, q52, q53, q54, q55, q56, q57, q58, q59, q60, q61, q62, q63, q64, q65,
    q66, q67, q68, q69, q70, q71, q72, q73, q78, q79, q80, q89, q90, q101,
    q102, q103, q104, q105, q106, q107, q108, q109, q110, q111, q112, q113,
    q114, q115, q116, q117, q118, q119, q120, q121, q122, q123, q124, q125,
    q126, q127, q128, q129, q130, q131, q132, q133, q134, q135, q136, q137,
    q138, q139, q140, q141, q142, q143, q144, q145, q146, q147, q148, q149,
    q150, q151, q152, q153, q154, q155, q156, q157, q158, q159, q160, q161,
    q162, q163, q164, q165, q166, q167, q168, q169, q170, q171, q172, q173,
    q174, q175, q176, q177, q178, q179, q180, q181, q182, q183, q184, q185,
    q186, q187, q188, q189, q190, q191, q192, q193, q194, q195, q196, q197,
    q198, q199, q200, q201)

  // ------------------------------------------------- phase decompositions

  type Phase = (org.apache.spark.sql.SparkSession, String) =>
    Option[org.apache.spark.sql.DataFrame]

  /** Identity with an expected type, so phase lambdas infer their params. */
  private def ph(f: Phase): Phase = f

  private def histBatches(s: org.apache.spark.sql.SparkSession, d: String,
                          dirName: String, src: org.apache.spark.sql.DataFrame,
                          keyCol: String, groupCol: String,
                          valueCol: org.apache.spark.sql.Column): String = {
    val dir = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), dirName)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
    (0L until 4L).foreach { b =>
      Sketches.writeValueHistograms(
        src.filter(pmod(col(keyCol), lit(4L)) === b),
        groupCol, valueCol, dir.toString, b)
    }
    dir.toString
  }

  /** Per-phase decomposition of the store-backed declared queries. The
    * declared query's headline bench time conflates the ONE-TIME index
    * build with per-query serving cost; the serving argument rests on the
    * probe-only number, so the bench times each phase separately and
    * emits a `phases` map (build / delete / probe) next to the headline
    * timings. Bodies mirror the declared queries exactly (same store
    * names, parameters and oracles apply); the last phase returns the
    * frame the bench noop-sinks. */
  val phases: Map[String, Seq[(String, Phase)]] = Map(
    "q115_quantized_ivf" -> Seq(
      "build" -> ph { (s, d) =>
        val emb = embeddings(s, d)
        Similarity.writeQuantizedIvfStore(emb.filter(col("vec_id") >= 20),
          "vec_id", "embedding", fixedCodebook(emb), "q115_store",
          numBuckets = fixedCodebook(emb).size)
        None
      },
      "probe" -> ph { (s, d) =>
        val emb = embeddings(s, d)
        val codebook = fixedCodebook(emb)
        Some(Similarity.quantizedIvfSearchFromStore(s, "q115_store",
          emb.filter(col("vec_id") >= 20), emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", codebook, nProbe = codebook.size, k = 5,
          rerankK = 0))
      }),
    "q123_store_delete" -> Seq(
      "build" -> ph { (s, d) =>
        val emb = embeddings(s, d)
        Similarity.writeIvfStore(emb.filter(col("vec_id") >= 20), "vec_id",
          "embedding", fixedCodebook(emb), "q123_store",
          numBuckets = fixedCodebook(emb).size)
        None
      },
      "delete" -> ph { (s, d) =>
        val corpus = embeddings(s, d).filter(col("vec_id") >= 20)
        Stores.addTombstones(corpus.filter(col("vec_id") % 7 === 0),
          "vec_id", "q123_store", batchId = 0L)
        Stores.addTombstones(corpus.filter(col("vec_id") % 11 === 3),
          "vec_id", "q123_store", batchId = 1L)
        None
      },
      "probe" -> ph { (s, d) =>
        val emb = embeddings(s, d)
        val codebook = fixedCodebook(emb)
        Some(Similarity.ivfSearchFromStore(s, "q123_store",
          emb.filter(col("vec_id") < 20), "vec_id", "embedding", codebook,
          nProbe = codebook.size, k = 5))
      }),
    "q125_quantile_store" -> Seq(
      "build" -> ph { (s, d) =>
        histBatches(s, d, "q125_hist", lineitem(s, d), "l_orderkey",
          "l_returnflag", col("l_quantity"))
        None
      },
      "probe" -> ph { (s, d) =>
        val dir = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q125_hist").toString
        Some(Sketches.mergedQuantiles(s, dir, "l_returnflag",
          Seq(0.25, 0.5, 0.75, 0.9)))
      }),
    "q131_bm25_store" -> Seq(
      "build" -> ph { (s, d) =>
        Terms.writeBm25Store(documents(s, d), "doc_id", "text", "q131_store")
        None
      },
      "probe" -> ph { (s, d) =>
        Some(Terms.bm25SearchFromStore(s, "q131_store",
          Seq("stream", "query", "data"), k = 20))
      }),
    "q133_quantile_gate" -> Seq(
      "build" -> ph { (s, d) =>
        histBatches(s, d, "q133_hist", documents(s, d), "doc_id",
          "lang", col("n_chars"))
        None
      },
      "probe" -> ph { (s, d) =>
        val dir = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q133_hist").toString
        val thr = Sketches.mergedQuantiles(s, dir, "lang", Seq(0.25))
          .select(col("lang"), col("q").as("q25"))
        Some(documents(s, d).join(broadcast(thr), Seq("lang"))
          .select(col("doc_id"), col("lang"), col("n_chars"), col("q25"),
            (col("n_chars") >= col("q25")).as("keep")))
      }),
    "q135_bm25_batch" -> Seq(
      "build" -> ph { (s, d) =>
        Terms.writeBm25Store(documents(s, d), "doc_id", "text", "q135_store")
        None
      },
      "probe" -> ph { (s, d) =>
        import s.implicits._
        val workload = Seq(
          (0L, "vector"), (0L, "join"),
          (1L, "data"), (1L, "stream"), (1L, "filter"),
          (2L, "query")).toDF("query_id", "term")
        Some(Terms.bm25BatchSearchFromStore(s, "q135_store", workload, k = 10))
      }),
    "q136_bm25_delete" -> Seq(
      "build" -> ph { (s, d) =>
        Terms.writeBm25Store(documents(s, d), "doc_id", "text", "q136_store")
        None
      },
      "delete" -> ph { (s, d) =>
        val docs = documents(s, d)
        Terms.tombstoneBm25Docs("q136_store",
          docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")),
          "doc_id", batchId = 1L)
        Terms.tombstoneBm25Docs("q136_store",
          docs.filter(col("doc_id") % 3 === 0).select(col("doc_id")),
          "doc_id", batchId = 2L)
        None
      },
      "probe" -> ph { (s, d) =>
        Some(Terms.bm25SearchFromStore(s, "q136_store",
          Seq("vector", "join", "filter"), k = 20))
      }),
    "q138_bm25_batch_delta" -> Seq(
      "build" -> ph { (s, d) =>
        val docs = documents(s, d)
        val deltaDir = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q138_delta")
        val fs = deltaDir.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(deltaDir)) fs.delete(deltaDir, true)
        Terms.writeBm25Store(docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", "q138_store")
        Terms.writeBm25DeltaBatch(docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", deltaDir.toString, batchId = 0L)
        None
      },
      "probe" -> ph { (s, d) =>
        import s.implicits._
        val workload = Seq(
          (0L, "vector"), (0L, "join"),
          (1L, "data"), (1L, "stream"), (1L, "filter"),
          (2L, "query")).toDF("query_id", "term")
        val deltaDir = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q138_delta").toString
        Some(Terms.bm25BatchSearchWithDeltas(s, "q138_store", deltaDir,
          workload, k = 10))
      }),
    "q139_ann_delta" -> Seq(
      "build" -> ph { (s, d) =>
        val emb = embeddings(s, d)
        val codebook = fixedCodebook(emb)
        val corpus = emb.filter(col("vec_id") >= 20)
        val deltaDir = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q139_delta")
        val fs = deltaDir.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(deltaDir)) fs.delete(deltaDir, true)
        Similarity.writeIvfStore(corpus.filter(col("vec_id") % 3 =!= 0),
          "vec_id", "embedding", codebook, "q139_store",
          numBuckets = codebook.size)
        Similarity.writeIvfDeltaBatch(corpus.filter(col("vec_id") % 3 === 0),
          "vec_id", "embedding", codebook, deltaDir.toString, batchId = 0L)
        None
      },
      "probe" -> ph { (s, d) =>
        val emb = embeddings(s, d)
        val codebook = fixedCodebook(emb)
        val deltaDir = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q139_delta").toString
        Some(Similarity.ivfSearchFromStoreWithDeltas(s, "q139_store",
          deltaDir, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          codebook, nProbe = codebook.size, k = 5))
      }),
    "q140_quantized_delta" -> Seq(
      "build" -> ph { (s, d) =>
        val emb = embeddings(s, d)
        val codebook = fixedCodebook(emb)
        val corpus = emb.filter(col("vec_id") >= 20)
        val deltaDir = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q140_delta")
        val fs = deltaDir.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(deltaDir)) fs.delete(deltaDir, true)
        Similarity.writeQuantizedIvfStore(corpus.filter(col("vec_id") % 3 =!= 0),
          "vec_id", "embedding", codebook, "q140_store",
          numBuckets = codebook.size, metaCols = Seq("label"))
        Similarity.writeQuantizedIvfDeltaBatch(corpus.filter(col("vec_id") % 3 === 0),
          "vec_id", "embedding", codebook, deltaDir.toString, batchId = 0L,
          metaCols = Seq("label"))
        None
      },
      "probe" -> ph { (s, d) =>
        val emb = embeddings(s, d)
        val codebook = fixedCodebook(emb)
        val deltaDir = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q140_delta").toString
        Some(Similarity.quantizedIvfSearchFromStoreWithDeltas(s, "q140_store",
          deltaDir, emb.filter(col("vec_id") >= 20),
          emb.filter(col("vec_id") < 20), "vec_id", "embedding", codebook,
          nProbe = codebook.size, k = 5, rerankK = 0,
          candidateFilter = Some(col("label").isin(1, 4))))
      }),
    "q137_ann_batch" -> Seq(
      "build" -> ph { (s, d) =>
        val emb = embeddings(s, d)
        Similarity.writeQuantizedIvfStore(emb.filter(col("vec_id") >= 20),
          "vec_id", "embedding", fixedCodebook(emb), "q137_store",
          numBuckets = fixedCodebook(emb).size, metaCols = Seq("label"))
        None
      },
      "probe" -> ph { (s, d) =>
        val emb = embeddings(s, d)
        val codebook = fixedCodebook(emb)
        Some(Similarity.quantizedIvfSearchFromStore(s, "q137_store",
          emb.filter(col("vec_id") >= 20), emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", codebook, nProbe = codebook.size, k = 5,
          rerankK = 0, candidateFilter = Some(col("label").isin(2, 5))))
      }),
    "q144_kmeans_moments" -> Seq(
      "build" -> ph { (s, d) =>
        val emb = embeddings(s, d)
        val seedCents = Cluster.initCentroids(emb, "vec_id", "embedding",
          k = 8, scale = 10000L)
        val dir = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q144_moments")
        val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(dir)) fs.delete(dir, true)
        (0L until 4L).foreach { b =>
          Cluster.writeMomentBatch(
            emb.filter(pmod(col("vec_id"), lit(4L)) === b),
            "vec_id", "embedding", seedCents, 10000L, dir.toString, b)
        }
        None
      },
      "fold" -> ph { (s, d) =>
        val dir = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q144_moments")
        val folded = Cluster.centroidsFromMoments(s, dir.toString, 10000L)
        Some(Cluster.fitStats(s, folded).orderBy(col("cell"), col("dim")))
      }),
    "q146_digest_store" -> Seq(
      "build" -> ph { (s, d) =>
        Stores.dropStore(s, "q146_store")
        Dedup.writeDigestStore(
          documents(s, d).filter(pmod(col("doc_id"), lit(5L)) =!= 0L),
          "doc_id", "text", "q146_store")
        None
      },
      "probe" -> ph { (s, d) =>
        Some(Dedup.dedupAgainstStore(s, "q146_store",
            documents(s, d).filter(pmod(col("doc_id"), lit(5L)) === 0L),
            "doc_id", "text")
          .orderBy(col("doc_id")))
      }),
    "q148_keyed_upsert" -> Seq(
      "build" -> ph { (s, d) => buildOrdersCdc(s, d, "q148_store"); None },
      "compact" -> ph { (s, d) =>
        val path = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q148_store").toString
        KeyedStore.compactKeyedStore(s, path, upTo = 1L)
        None
      },
      "probe" -> ph { (s, d) =>
        val path = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q148_store").toString
        Some(KeyedStore.readLatest(s, path)
          .select(col("id"), col("batch").as("last_batch"), col("o_custkey"),
            round(col("o_totalprice"), 4).as("price"),
            col("o_orderstatus").as("status"))
          .orderBy(col("id")))
      }),
    "q173_store_recs" -> Seq(
      "build" -> ph { (s, d) =>
        custSuppEdgeStore(s, d, "q173_edges"); None
      },
      "probe" -> ph { (s, d) =>
        val dir = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q173_edges").toString
        Some(GraphCF.itemKnnRecsFromStore(s, dir, "cust", "supp",
            k = 10, neighbors = 20, maxHistory = 50)
          .orderBy(col("cust"), col("rnk")))
      }),
    "q175_store_p3alpha" -> Seq(
      "build" -> ph { (s, d) =>
        custSuppEdgeStore(s, d, "q175_edges"); None
      },
      "probe" -> ph { (s, d) =>
        val dir = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q175_edges").toString
        Some(GraphCF.p3alphaRecsFromStore(s, dir, "cust", "supp",
            k = 10, neighbors = 20, maxHistory = 50)
          .orderBy(col("cust"), col("rnk")))
      }),
    "q196_related_items" -> Seq(
      "build" -> ph { (s, d) =>
        custSuppEdgeStore(s, d, "q196_edges"); None
      },
      "probe" -> ph { (s, d) =>
        val dir = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q196_edges").toString
        Some(GraphCF.similarItemsFromStore(s, dir, neighbors = 10,
            maxHistory = 50)
          .orderBy(col("item"), col("rnk")))
      }),
    "q190_markov_from_store" -> Seq(
      "build" -> ph { (s, d) =>
        transitionStore(s, d, "q190_trans"); None
      },
      "probe" -> ph { (s, d) =>
        val dir = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q190_trans").toString
        Some(GraphCF.markovRecsFromStore(s, dir, custSuppBasketFrame(s, d),
            "cust", "bsk", "ts", "supp", k = 10, neighbors = 20,
            maxBasket = 8)
          .orderBy(col("cust"), col("rnk")))
      }))
}
