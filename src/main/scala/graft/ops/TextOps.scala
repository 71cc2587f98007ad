package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * All pure codegen'd column expressions (no UDFs) so they vectorize inside
  * whole-stage codegen and scale linearly with no shuffle — each is a narrow
  * map over the documents table.
  */
object TextOps {

  /** Whitespace tokens (pandas-free analogue of `str.split`, SURVEY F1). */
  def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  def wsTokenCount(text: Column): Column = size(wsTokens(text))

  /** BPE-ish token estimate: runs of letters, digit runs, or single
    * non-alnum marks — a cheap deterministic proxy for subword token count. */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** Lowercase, strip non-[a-z0-9 ], collapse whitespace — canonical form
    * shared by fingerprint() and the shingle-based dedup ops. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Document fingerprint: md5 of the normalized text. Equal fingerprints ⇒
    * near-identical documents modulo case/punctuation/whitespace.
    * Normalization runs through the single-pass codegen kernel
    * ([[graft.functions.NormalizeText]]) rather than the composed
    * lower/regexp/trim column — one character scan instead of four
    * interpreted regex passes per document, which dominated the heaviest
    * linear scan of the suite at scale (semantics identical, pinned by
    * TextKernelsSpec). */
  def fingerprint(text: Column): Column =
    md5(graft.functions.TextFunctions.normalize_text(text).cast("binary"))

  def nonAlnumCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))

  /** Within-document repetition ratio over word n-grams — the
    * duplicate-content quality signal large-scale corpus filters cut on
    * (boilerplate/template pages repeat their own n-grams):
    * 1 − distinct-shingles / total-shingles of the normalized text, in
    * [0, 1), 0 = no repeated n-gram. Distinct count via the single-pass
    * [[graft.functions.ShingleHashSet]] codegen kernel; total = the shingle
    * count of an ntok-token doc (max(ntok − n + 1, 1) — short docs yield
    * their single partial shingle, matching the kernel). Narrow codegen
    * map, zero shuffle. Returned UNROUNDED: both engines compute the same
    * 1.0 − (double)d/(double)t IEEE expression, so the oracle matches
    * bit-for-bit without a rounding knife-edge. */
  def repetitionRatio(text: Column, n: Int = 3): Column = {
    val ntok = size(wsTokens(normalizeText(text)))
    val total = greatest(ntok - (n - 1), lit(1))
    val distinctN = size(graft.functions.TextFunctions.shingle_hashes(text, n))
    lit(1.0) - distinctN.cast("double") / total.cast("double")
  }

  /** Gopher-style composite quality rules (Rae et al. 2021, App. A — the
    * rule bundle most LLM corpus filters start from), as ONE struct of
    * per-rule statistics plus the conjunctive keep flag, so a curation
    * funnel can both gate on `keep` and report per-rule attrition:
    *
    *   - word count in [50, 100000]
    *   - mean word length in [3, 10]
    *   - symbol-to-word ratio (# or ...) < 0.1
    *   - < 90% of lines bullet-led, < 30% of lines ellipsis-terminated
    *   - > 80% of words contain an alphabetic character
    *   - >= 2 distinct Gopher stop words present (on normalized tokens,
    *     so punctuation-attached forms still count)
    *
    * The raw counts come from the single-pass
    * [[graft.functions.GopherStats]] codegen kernel (~2 character passes;
    * the composed higher-order-function formulation paid seven
    * interpreted scans with per-token/per-line regex matching —
    * [[gopherRulesComposed]] keeps it as the cross-check reference). The
    * ratio algebra stays in Column space: plain IEEE divisions of exact
    * integer counts, so an external engine replays the keep decision
    * bit-for-bit. */
  val GopherStopWords = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherRules(text: Column): Column = {
    val st = graft.functions.TextFunctions.gopher_stats(text)
    gopherStruct(
      n = st.getField("n_words").cast("int"),
      sumLen = st.getField("sum_word_len"),
      nSym = st.getField("n_sym"),
      nLines = st.getField("n_lines").cast("int"),
      nBullet = st.getField("n_bullet"),
      nEllipsis = st.getField("n_ellipsis"),
      nAlpha = st.getField("n_alpha_words"),
      nStop = st.getField("n_stop").cast("int"))
  }

  /** The composed built-in formulation of [[gopherRules]] — semantically
    * identical by contract (VectorTextSpec cross-checks both on real
    * corpus docs and adversarial edges); kept as the executable
    * specification of the kernel's semantics. */
  def gopherRulesComposed(text: Column): Column = {
    val toks = wsTokens(text)
    val lines = split(text, "\n")
    gopherStruct(
      n = size(toks),
      sumLen = aggregate(toks, lit(0L), (a, w) => a + length(w)),
      nSym = size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0))),
      nLines = size(lines),
      nBullet = size(filter(lines, l => l.rlike("^\\s*[-*•]"))),
      nEllipsis = size(filter(lines, l => l.rlike("\\.\\.\\.\\s*$"))),
      nAlpha = size(filter(toks, w => w.rlike("[A-Za-z]"))),
      nStop = size(filter(typedLit(GopherStopWords),
        sw => array_contains(wsTokens(normalizeText(text)), sw))))
  }

  private def gopherStruct(n: Column, sumLen: Column, nSym: Column,
                           nLines: Column, nBullet: Column, nEllipsis: Column,
                           nAlpha: Column, nStop: Column): Column = {
    val meanLen = sumLen.cast("double") / n
    val symbolRatio = nSym.cast("double") / n
    val bulletFrac = nBullet.cast("double") / nLines
    val ellipsisFrac = nEllipsis.cast("double") / nLines
    val alphaFrac = nAlpha.cast("double") / n
    struct(
      n.as("n_words"), meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"), bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_frac"), alphaFrac.as("alpha_frac"),
      nStop.as("n_stop"),
      (n >= 50 && n <= 100000 &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        symbolRatio < 0.1 && bulletFrac < 0.9 && ellipsisFrac < 0.3 &&
        alphaFrac > 0.8 && nStop >= 2).as("keep"))
  }

  /** Context-window chunking: split each document into fixed-size token
    * windows — the sequence-splitting step a training pipeline runs before
    * tokenization/packing. One row per (doc, chunk) with the token span and
    * the chunk text; a doc shorter than `chunkTokens` yields one chunk, and
    * a NULL text yields one chunk with NULL chunk_text and an empty span
    * (token count clamped to 0 — under legacy sizeOfNull, size(NULL) = -1
    * would otherwise make `sequence(0, -1)` fabricate two chunks with
    * negative indices and spans).
    * Narrow map + explode: no shuffle, chunk count scales with corpus
    * tokens, and the token array is built once per doc (all built-ins —
    * stays in whole-stage codegen). */
  def chunkSpans(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, chunkTokens: Int): org.apache.spark.sql.DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    df.select(col(idCol).as("doc_id"), wsTokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("__toks"),
        greatest(size(col("__toks")), lit(0)).cast("long").as("__n"))
      .select(col("doc_id"), col("__toks"), col("__n"),
        explode(sequence(lit(0L),
          greatest(floor((col("__n") - 1L) / chunkTokens), lit(0L)).cast("long")))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * chunkTokens).as("tok_start"),
        least((col("chunk_idx") + 1L) * chunkTokens, col("__n")).as("tok_end"),
        array_join(slice(col("__toks"),
          (col("chunk_idx") * chunkTokens + 1L).cast("int"), lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** Newline segments as (doc_id, seg_idx, seg) rows — the natural input to
    * [[graft.ops.Dedup.dedupSegments]] for line-structured corpora (use
    * [[chunkSpans]] for unstructured text). Narrow map + posexplode, no
    * shuffle. */
  def lineSpans(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("doc_id"), posexplode(split(col(textCol), "\n")))
      .select(col("doc_id"), col("pos").cast("long").as("seg_idx"),
        col("col").as("seg"))

  /** Deterministic hash-based stratified sampling — per-stratum downsampling
    * (by language, quality bucket, source...) as corpus mixing needs it.
    * The keep decision is a glibc-style integer LCG over the row id (the
    * same SQL-replayable family as the SRP planes): reproducible on any
    * cluster or partitioning, no RNG state, and the oracle replays every
    * draw. The id is reduced mod 2^31 BEFORE the multiply so the product
    * stays below 2^62 — exact all-integer arithmetic for any 64-bit id
    * (an unreduced `id * a` overflows Long past id ≈ 8.4e9, and a double
    * division loses exactness past the 2^53 mantissa — both real at corpus
    * scale). `ratesPct`: percent to KEEP per stratum value; others keep
    * `defaultPct`. */
  def stratifiedSample(df: org.apache.spark.sql.DataFrame, idCol: String,
                       strataCol: String, ratesPct: Map[String, Int],
                       defaultPct: Int): org.apache.spark.sql.DataFrame =
    df.filter(sampleKeep(col(idCol), col(strataCol), ratesPct, defaultPct))

  /** The [[stratifiedSample]] keep decision as a standalone predicate
    * column, for pipelines that LABEL sampled-out rows instead of dropping
    * them (e.g. [[CorpusPipeline]] funnel accounting). Same exact-integer
    * LCG draw; filtering on this predicate IS stratifiedSample. */
  /** The one LCG state expression every replayable sampler shares
    * (glibc constants, exact all-integer mod-2^31) — [[sampleKeep]] and
    * [[ppsSampleDocs]] derive their draws from THIS, and the SQL oracles
    * replay these exact constants: tuning a copy independently would
    * silently break parity. */
  private[ops] def lcgState(id: Column): Column = {
    val m = 2147483648L // 2^31, glibc LCG modulus
    pmod(pmod(id.cast("long"), lit(m)) * 1103515245L + 12345L, lit(m))
  }

  def sampleKeep(id: Column, strata: Column, ratesPct: Map[String, Int],
                 defaultPct: Int): Column = {
    val draw = pmod(shiftright(lcgState(id), 16), lit(100L))
    val rate = ratesPct.foldLeft(lit(defaultPct)) { case (acc, (k, v)) =>
      when(strata === k, lit(v)).otherwise(acc)
    }
    draw < rate
  }

  /** Deterministic shard id in [0, nShards) for training-data export: the
    * shared replayable LCG over the row id, drawing bits 9.. (decorrelated
    * from [[sampleKeep]]'s 16.. percent draw and [[ppsSampleDocs]]'s 5..
    * ppm draw — a doc's sample fate and its shard are independent).
    * Pure column expression: the same id lands in the same shard on any
    * cluster, any partitioning, any run — what makes an export resumable
    * and a manifest diffable across re-runs.
    *
    * A NULL id fails the job loudly (in-flight assert, [[ppsSampleDocs]]'s
    * guard pattern): silently it would propagate a NULL shard — a
    * `shard=__HIVE_DEFAULT_PARTITION__` directory no trainer reads and a
    * manifest row no re-run reproduces. */
  def shardAssign(id: Column, nShards: Int): Column = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    when(assert_true(id.isNotNull, lit("shardAssign: NULL id")).isNull,
      pmod(shiftright(lcgState(id), 9), lit(nShards.toLong)).cast("int"))
  }

  /** Deterministic FIXED-SIZE uniform sample per stratum: exactly
    * `min(k, |stratum|)` rows from each group — the reservoir-sampling
    * contract, without reservoir state. Rate-based [[stratifiedSample]]
    * keeps a binomially-varying count; eval sets, few-shot pools and
    * per-source inspection slices need an exact k. Selection order is the
    * shared replayable [[lcgState]] draw (id tie-break), so the sample is
    * the same on any cluster, partitioning or run, and the oracle replays
    * every pick.
    *
    * Scale shape: a bounded [[Aggregators.TopK]] per stratum — each
    * (stratum, partition) exchanges at most k (draw, id) pairs, map-side
    * combined, so the shuffle carries O(strata · partitions · k), never
    * the corpus. The row_number-window formulation shuffles every corpus
    * row to a stratum-count-bounded set of reducers first — both the
    * volume and the parallelism fail at 100 TB. TopK keeps the k BEST by
    * score desc, so the draw rides negated: "k smallest LCG draws" — a
    * uniform k-subset, since the LCG ranks ids in corpus-independent
    * pseudorandom order. Output is (stratum, id, draw) — join back on id
    * for payload columns (the sample is id-cardinality; the join is the
    * cheap side). */
  def groupSample(df: org.apache.spark.sql.DataFrame, idCol: String,
                  strataCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val topk = udaf(new Aggregators.TopK(k))
    df.select(col(strataCol).as("stratum"),
        (-lcgState(col(idCol))).cast("double").as("__negdraw"),
        col(idCol).cast("long").as("__id"))
      .groupBy(col("stratum"))
      .agg(topk(col("__negdraw"), col("__id")).as("picks"))
      .select(col("stratum"), explode(col("picks")).as("p"))
      .select(col("stratum"), col("p._2").as(idCol),
        (-col("p._1")).cast("long").as("draw"))
  }

  /** Probability-proportional-to-size document sampling: keep probability
    * ∝ the document's weight (token count), normalized so the EXPECTED
    * number of kept documents is `targetDocs` — the importance-weighted
    * draw an eval/inspection pipeline uses so heavy documents (which
    * dominate training token mass) are proportionally represented.
    * p_i = min(1, targetDocs · w_i / Σw), decided by the same
    * SQL-replayable LCG as [[sampleKeep]] at parts-per-million
    * granularity. ALL-INTEGER arithmetic: `targetDocs·10^6 · w_i` stays
    * under 2^63 for weights ≤ ~10^6 tokens and targets ≤ 10^6 docs, and
    * `div` keeps the rate exact where a double division would lose the
    * knife edge past 2^53. The total-weight aggregate broadcasts; the
    * keep decision is a narrow map. */
  def ppsSampleDocs(df: org.apache.spark.sql.DataFrame, idCol: String,
                    weightCol: org.apache.spark.sql.Column,
                    targetDocs: Long): org.apache.spark.sql.DataFrame = {
    require(targetDocs >= 1, "targetDocs must be >= 1")
    require(targetDocs <= 1000000L, "targetDocs above 1e6 would overflow the ppm rate")
    val tot = df.agg(sum(weightCol.cast("long")).as("__tot"))
    val drawPpm = pmod(shiftright(lcgState(col(idCol)), 5), lit(1000000L))
    // per-row weight guard as an expression (assert_true throws in-flight,
    // no extra validation pass): a weight outside [0, maxW] would wrap
    // targetDocs·10^6·w negative and silently EXCLUDE the heaviest docs —
    // the rows PPS most needs
    val maxW = Long.MaxValue / (targetDocs * 1000000L)
    val guarded = when(
      assert_true(col("__w").isNull || col("__w").between(0L, maxW),
        lit(s"ppsSampleDocs: weight outside [0, $maxW]")).isNull,
      // a NULL weight (null text) must DROP the row — made explicit here
      // because least() SKIPS null arguments in both Spark and DuckDB, so
      // least(10^6, null) would otherwise evaluate to 10^6 and keep every
      // weightless doc with p = 1
      when(col("__w").isNull, lit(null).cast("long"))
        .otherwise(least(lit(1000000L),
          expr(s"(${targetDocs * 1000000L} * __w) div __tot"))))
    df.withColumn("__w", weightCol.cast("long"))
      .crossJoin(broadcast(tot))
      .filter(drawPpm < guarded)
      .drop("__w", "__tot")
  }

  /** Concatenation packing: assign [[chunkSpans]] chunks to fixed-capacity
    * training sequences — the step that turns variable-length chunks into
    * dense `capacity`-token batches. Greedy running-fill per pack group:
    * chunks are ordered (doc_id, chunk_idx) within `numGroups` deterministic
    * groups (doc_id mod numGroups), and a chunk lands in the sequence where
    * its running token total starts (chunks may straddle sequence
    * boundaries — concat-then-split semantics, the standard packing form).
    *
    * Scale shape: the only exchange is the group partition; each group sorts
    * locally. Parallelism = numGroups — size it ~4× cluster cores so a
    * group's token total stays far below the 2^53 double mantissa (the
    * running sum is exact below that; 100 TB ≈ 2×10^13 tokens over 10^3+
    * groups ≈ 10^10/group). Deterministic on any partitioning: group and
    * order are pure functions of (doc_id, chunk_idx). */
  def packSequences(chunks: org.apache.spark.sql.DataFrame, capacity: Int,
                    numGroups: Int): org.apache.spark.sql.DataFrame = {
    require(capacity > 0 && numGroups > 0, "capacity and numGroups must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pack_group")).orderBy(col("doc_id"), col("chunk_idx"))
    chunks
      .select(col("doc_id"), col("chunk_idx"),
        (col("tok_end") - col("tok_start")).as("ntok"),
        pmod(col("doc_id"), lit(numGroups.toLong)).as("pack_group"))
      .withColumn("__cum", sum(col("ntok")).over(w))
      .select(col("pack_group"),
        floor((col("__cum") - col("ntok")) / capacity).cast("long").as("seq_id"),
        col("doc_id"), col("chunk_idx"), col("ntok"))
  }

  /** PII patterns redacted by [[redactPii]] — emails, IPv4 addresses, and
    * international-ish phone numbers. Deliberately simple regexes valid in
    * both Java regex and RE2 so the DuckDB oracle replays them. Order
    * matters: emails first (their local part can contain digits a later
    * pattern would chew up). */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone" -> "\\+?\\d[\\d() -]{7,}\\d")

  /** Replace each PII match with a `<kind>` placeholder — the scrubbing
    * step a corpus runs before training. Narrow codegen map, no shuffle. */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (t, (kind, re)) =>
      regexp_replace(t, re, s"<$kind>")
    }

  /** Total substitutions [[redactPii]] performs: pattern k is counted on
    * the text with patterns 1..k−1 already redacted, so a digit run inside
    * an email is never double-counted as a phone number. */
  def piiCount(text: Column): Column =
    PiiPatterns.foldLeft((text, lit(0L))) { case ((t, acc), (kind, re)) =>
      (regexp_replace(t, re, s"<$kind>"),
        acc + size(regexp_extract_all(t, lit(re), lit(0))).cast("long"))
    }._2

  /** Language-ID stopword families. Deterministic n-gram/stopword heuristic:
    * score = number of language-marker word hits; argmax with a fixed
    * priority order (en, de, es, fr, zh) for ties. The word lists are the
    * single source of truth: the regex form below and the single-pass
    * [[graft.functions.TextKernels.langQualityStats]] kernel both derive
    * from them, so they cannot drift. */
  val LangMarkerWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "den"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "en", "que", "por", "una"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "des", "dans", "pour", "que"))

  val LangMarkers: Seq[(String, String)] =
    LangMarkerWords.map { case (l, ws) =>
      l -> ("\\b(?:" + ws.mkString("|") + ")\\b")
    } :+ ("zh" -> "[\\u4e00-\\u9fff]")

  def langScore(text: Column, markerRegex: String): Column =
    size(regexp_extract_all(lower(text), lit(markerRegex), lit(0)))

  /** Argmax over lang scores with fixed priority tie-break (first wins). */
  def langId(scores: Seq[(String, Column)]): Column = {
    def pick(rest: List[(String, Column)]): Column = rest match {
      case (name, _) :: Nil => lit(name)
      case (name, s) :: tail =>
        when(tail.map(_._2).foldLeft(lit(true))((acc, t) => acc && s >= t), lit(name))
          .otherwise(pick(tail))
      case Nil => lit("und")
    }
    // NULL text -> NULL scores: every `when` condition is null and the
    // cascade would fall through to the LAST language; guard explicitly
    when(scores.head._2.isNull, lit(null: String))
      .otherwise(pick(scores.toList))
  }
}
