package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * column expressions (whole-stage codegen, no UDFs) — each is a single
  * narrow pass per document and survives any scale-up unchanged.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword-hit
    * language-ID heuristic. Deterministic and SQL-mirrorable. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "in"),
    "es" -> Seq("el", "la", "de", "y", "en"),
    "fr" -> Seq("le", "la", "de", "et", "en"),
    "de" -> Seq("der", "die", "das", "und", "in"))

  private def words(text: Column): Column = split(text, " ")

  def hitCount(text: Column, wordsList: Seq[String]): Column =
    size(filter(words(text), w => wordsList.map(s => w === s).reduce(_ || _)))

  /** Language-ID: stopword hits per language + argmax prediction with a
    * deterministic first-wins tie-break in declaration order. */
  def langId(docs: DataFrame): DataFrame = {
    val withHits = langStopwords.foldLeft(docs.select(col("doc_id"), col("text"))) {
      case (df, (lang, sw)) => df.withColumn(s"${lang}_hits", hitCount(col("text"), sw))
    }
    val best = langStopwords.map { case (l, _) => col(s"${l}_hits") }
      .reduce((a, b) => greatest(a, b))
    // first declared language wins ties (build the when-chain inside-out)
    val predFirstWins = langStopwords.reverse.foldLeft(lit("und")) {
      case (els, (l, _)) => when(col(s"${l}_hits") === best && best > 0, lit(l)).otherwise(els)
    }
    withHits.drop("text").withColumn("pred_lang", predFirstWins)
  }

  /** Quality signals: token count, distinct-token count, max token length,
    * punctuation chars, uppercase chars, and the distinct/total ratio.
    * Integer counts + one IEEE division — both bit-stable across engines. */
  def quality(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    docs.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(w).as("n_tokens"),
      size(array_distinct(w)).as("n_uniq"),
      aggregate(transform(w, t => length(t)), lit(0), (a, v) => greatest(a, v))
        .as("max_token_len"),
      (length(col("text")) - length(regexp_replace(col("text"), "[\\p{Punct}]", "")))
        .as("n_punct"),
      (size(array_distinct(w)).cast("double") / size(w)).as("uniq_ratio"))
  }

  /** The 8 Gopher stop words (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", appendix A —
    * the MassiveText quality filter): a document must contain ≥ 2. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The FULL Gopher quality rule set (public knowledge — the MassiveText
    * filtering rules of Rae et al. 2021; also restated by Penedo et al.'s
    * RefinedWeb/FineWeb reproductions):
    *   - word count in [50, 100000];
    *   - mean word length in [3, 10];
    *   - symbol-to-word ratio ('#' or '...') ≤ 0.1;
    *   - < 90% of lines starting with a bullet ('-', '*', '•');
    *   - < 30% of lines ending with an ellipsis ('...' or '…');
    *   - ≥ 80% of words containing at least one alphabetic character;
    *   - ≥ 2 of the 8 Gopher stop words present.
    * All signals are integer counts plus single per-row IEEE divisions —
    * bit-stable across engines, so the whole row (pass flag included) is
    * oracle-checkable. One narrow pass, codegen, no shuffle. */
  def gopherQuality(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val lines = split(col("text"), "\n")
    val nHash = length(col("text")) - length(regexp_replace(col("text"), "#", ""))
    val nEllipsis =
      (length(col("text")) - length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3
    val staged = docs.select(
      col("doc_id"),
      size(w).as("n_words"),
      aggregate(transform(w, t => length(t)), lit(0), (a, v) => a + v)
        .as("n_word_chars"),
      (nHash + nEllipsis).cast("int").as("n_symbols"),
      size(filter(w, t => t.rlike("[A-Za-z]"))).as("n_alpha_words"),
      size(filter(array(gopherStopwords.map(lit): _*),
        s => array_contains(w, s))).as("n_stop_hits"),
      size(lines).as("n_lines"),
      size(filter(lines, l =>
        l.startsWith("- ") || l.startsWith("* ") || l.startsWith("•")))
        .as("n_bullet_lines"),
      size(filter(lines, l => l.endsWith("...") || l.endsWith("…")))
        .as("n_ellipsis_lines"))
    val meanLen = col("n_word_chars").cast("double") / col("n_words")
    val symRatio = col("n_symbols").cast("double") / col("n_words")
    val alphaFrac = col("n_alpha_words").cast("double") / col("n_words")
    val bulletFrac = col("n_bullet_lines").cast("double") / col("n_lines")
    val ellipsisFrac = col("n_ellipsis_lines").cast("double") / col("n_lines")
    staged.select(
      col("doc_id"), col("n_words"), col("n_symbols"), col("n_alpha_words"),
      col("n_stop_hits"), col("n_lines"), col("n_bullet_lines"),
      col("n_ellipsis_lines"),
      meanLen.as("mean_word_len"), symRatio.as("symbol_word_ratio"),
      alphaFrac.as("frac_alpha_words"), bulletFrac.as("frac_bullet_lines"),
      ellipsisFrac.as("frac_ellipsis_lines"),
      (col("n_words") >= 50 && col("n_words") <= 100000 &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        symRatio <= 0.1 &&
        bulletFrac < 0.9 && ellipsisFrac < 0.3 &&
        alphaFrac >= 0.8 &&
        col("n_stop_hits") >= 2).cast("int").as("passes_gopher"))
  }

  /** Whitespace + BPE-ish token counting: whitespace tokens plus subword
    * pieces approximated by splitting runs of letters/digits/punct. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      size(filter(split(col("text"), "[^A-Za-z0-9]+"), t => length(t) > 0))
        .as("word_tokens"),
      // crude BPE-ish upper bound: ~1 piece per 4 chars, at least one per word
      greatest(size(split(col("text"), " ")),
        ceil(length(col("text")).cast("double") / 4).cast("int")).as("bpe_est"))

  /** Intra-document REPETITION signals (the Gopher-style repetition
    * quality rules): for n ∈ {2, 3}, the total and distinct word-n-gram
    * counts and the duplicate fraction 1 − distinct/total. Repetitive
    * machine-generated or boilerplate text shows high duplicate fractions
    * where natural prose stays low — the standard cut is a threshold per
    * n. Pure per-row expressions (one narrow pass, codegen, no shuffle);
    * the division is a single per-row IEEE op, bit-stable across engines.
    * Documents shorter than n words have zero windows → fraction 0. */
  def repetition(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    def wins(n: Int): Column =
      filter(transform(w, (_, i) =>
        when(i <= size(w) - n, concat_ws(" ", slice(w, i + lit(1), lit(n))))),
        c => c.isNotNull)
    // STAGED projections: the window arrays are built once, the counts
    // read the materialized columns, the fractions read the count
    // columns. Naively inlining everything into one select instantiates
    // each window-construction expression ~4x per row (HOF trees carry
    // LambdaVariables, which Spark's subexpression elimination skips);
    // CollapseProject keeps the stages apart because the aliased arrays
    // are referenced more than once and are not cheap (plan-asserted in
    // OperatorsSpec: the optimized plan builds each array exactly once).
    def counts(tag: String): Seq[Column] = Seq(
      size(col(tag)).as(s"${tag}_total"),
      size(array_distinct(col(tag))).as(s"${tag}_distinct"))
    def frac(tag: String): Column =
      when(col(s"${tag}_total") > 0,
        lit(1.0) - col(s"${tag}_distinct").cast("double") /
          col(s"${tag}_total").cast("double"))
        .otherwise(lit(0.0)).as(s"${tag}_dup_frac")
    docs.select(col("doc_id"), wins(2).as("bi"), wins(3).as("tri"))
      .select(col("doc_id") +: (counts("bi") ++ counts("tri")): _*)
      .select(col("doc_id"),
        col("bi_total"), col("bi_distinct"), frac("bi"),
        col("tri_total"), col("tri_distinct"), frac("tri"))
  }

  /** PORTABLE positional fingerprint: order-sensitive like a rolling hash,
    * but built from integer LCG terms over dense token ids so the DuckDB
    * oracle reproduces it bit-exactly.
    *
    *   fp(doc) = Σ_i ((37·tid_i + 17) mod P) · ((61·pos_i + 29) mod P)
    *
    * with P = 1000003 and pos 1-based; each term ≤ P² ≈ 1e12, so even
    * 10⁶-token documents stay far from BIGINT overflow. Swapping two
    * distinct tokens changes fp (distinct position factors), which is the
    * property a fingerprint needs and a bag-of-words hash lacks. */
  def fingerprintsPortable(docs: DataFrame,
                           vocabKey: Option[String] = None): DataFrame = {
    val t = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    // same distinct-word vocabulary as simhashesPortable → shared cache key
    val vocab = Dedup.tokenVocabCached(t.select(col("w").as("sh")), vocabKey)
    t.join(vocab, t("w") === vocab("sh"))
      .groupBy(col("doc_id"))
      .agg(sum(
        ((lit(37L) * col("tid") + lit(17L)) % lit(Dedup.HashP)) *
          ((lit(61L) * (col("pos") + lit(1)).cast("long") + lit(29L)) % lit(Dedup.HashP)))
        .as("fp"))
  }

  // ------------------------------ PII redaction ------------------------------

  /** PII patterns shared VERBATIM between the Spark expressions and the
    * generated DuckDB oracle. Both engines must interpret them identically,
    * so the patterns restrict themselves to the syntax where java.util.regex
    * and RE2 (DuckDB's engine) agree: plain character classes, bounded
    * quantifiers, no lookaround, no backreferences, no \b word boundaries
    * (RE2 and Java disagree on \b inside classes). Redaction order is
    * load-bearing: emails first (an address like `x@10.1.2.3` must not be
    * double-counted by the IP pass — the alpha-TLD requirement rejects it as
    * an email and the IP pass picks up the host part), then IPs, then
    * phones (whose digit-run class would otherwise swallow bare IPs). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhoneRe = "\\+[0-9][0-9 ()-]{6,}[0-9]"

  /** Mask emails, IPv4 addresses and international-format phone numbers in
    * `text`, in that order, and count what each pass removed. Counts are
    * taken on the input of the SAME pass that redacts them (sequential
    * semantics: the IP count never sees digits an email pass consumed), so
    * n_emails + n_ips + n_phones is exactly the number of `<...>` masks in
    * clean_text. Null text stays null with zero counts.
    *
    * Scale shape: three chained regexp_replace + three regexp_count
    * expressions — one narrow whole-stage-codegen pass, no shuffle, no
    * state; the filter/projection survives any scale-up unchanged. */
  def piiRedact(docs: DataFrame): DataFrame = {
    val afterEmail = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    val clean = regexp_replace(afterIp, PhoneRe, "<PHONE>")
    docs.select(
      col("doc_id"),
      clean.as("clean_text"),
      coalesce(regexp_count(col("text"), lit(EmailRe)), lit(0)).cast("long").as("n_emails"),
      coalesce(regexp_count(afterEmail, lit(Ipv4Re)), lit(0)).cast("long").as("n_ips"),
      coalesce(regexp_count(afterIp, lit(PhoneRe)), lit(0)).cast("long").as("n_phones"))
  }

  /** Deterministically plant PII onto a (doc_id, text) corpus so the
    * redactor has something real to find: doc_id % 7 == 2 rows get an
    * email, % 7 == 4 an IPv4 host, % 7 == 6 a phone number — each derived
    * from doc_id alone, so the catalog oracle reconstructs the same
    * planted text with string concatenation and runs the same regexes
    * (the analog of [[Multimodal.fromDocumentsWithImages]] for images).
    * Null text stays null (concat propagates). */
  def withPlantedPii(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    def s(c: Column): Column = c.cast("string")
    val planted = when(id % 7 === 2, concat(col("text"),
        lit(" contact user"), s(id), lit("@m"), s(id % 10), lit(".example.com now")))
      .when(id % 7 === 4, concat(col("text"),
        lit(" host 10."), s(id % 256), lit("."), s((id * 3) % 256),
        lit("."), s((id * 5) % 256), lit(" up")))
      .when(id % 7 === 6, concat(col("text"),
        lit(" call +"), s(lit(1) + id % 9), lit(" "), s(lit(100) + id % 900),
        lit(" "), s(lit(100) + (id * 3) % 900), lit(" "),
        s(lit(1000) + id % 9000), lit(" ok")))
      .otherwise(col("text"))
    docs.withColumn("text", planted)
  }

  // ----------------------------- URL / domain filter -------------------------

  /** URL-filter patterns, same java.regex ∩ RE2 discipline as the PII set.
    * UrlRe carries groups — extraction always uses group 0 (Spark's
    * regexp_extract_all DEFAULTS to group 1, DuckDB to 0, so the Spark
    * side passes the index explicitly). The host is label(.label)* with
    * dots ONLY as separators, never inside the label class: a sentence-
    * final URL ("see https://ads.bad.org. next") must not swallow the
    * terminal dot — a `[A-Za-z0-9.-]+` host did, and the $-anchored
    * registered-domain extract then failed on the trailing-dot host,
    * silently unflagging blocklisted sentence-final URLs (the common
    * case in real web text). */
  val UrlRe = "https?://[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)*(/[^ ]*)?"
  val HostRe = "://([^/ ]+)"
  val RegDomainRe = "([A-Za-z0-9-]+\\.[A-Za-z]+)$"

  /** Flag documents carrying URLs whose REGISTERED domain (the last two
    * host labels — the C4/UT1 blocklist key, so `ads.example.org` and
    * `cdn.example.org` both match a blocklist row `example.org`) appears
    * in `blocklist` (one `domain` column). Output one row per flagged
    * (doc, url): consumers anti-join the doc_ids or audit the URLs.
    *
    * Scale shape: extraction is per-row regex (codegen), the blocklist —
    * even UT1's millions of rows are a few tens of MB — rides a BROADCAST
    * equi-join on the registered-domain key; nothing data-sized shuffles. */
  def urlFlags(docs: DataFrame, blocklist: DataFrame): DataFrame = {
    val urls = docs.where(col("text").isNotNull && col("doc_id").isNotNull)
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).as("url"))
    urls
      .withColumn("host", regexp_extract(col("url"), HostRe, 1))
      .withColumn("domain", regexp_extract(col("host"), RegDomainRe, 1))
      .join(broadcast(blocklist), Seq("domain"))
      .select(col("doc_id"), col("url"), col("domain"))
  }

  /** Deterministically plant URLs (doc_id % 9 == 5 rows get one, host and
    * path derived from the id) — the PII-planting analog for the URL
    * filter, so the catalog oracle re-runs the same regexes in RE2. */
  def withPlantedUrls(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    def s(c: Column): Column = c.cast("string")
    docs.withColumn("text",
      when(id % 9 === 5, concat(col("text"),
        lit(" see https://w"), s(id % 50), lit(".example"), s(id % 7),
        lit(".org/p/"), s(id), lit(" end")))
        .otherwise(col("text")))
  }

  // ------------------------------ corpus drift -------------------------------

  /** Token-distribution DRIFT between two corpus snapshots — the debugging
    * table for "what changed between yesterday's crawl and today's": per
    * token, raw counts and integer parts-per-million rates in each side,
    * ranked by absolute ppm difference (ties broken by token, so the top-N
    * cut is deterministic — an oracle-safe LIMIT). Rates are exact BIGINT
    * floor-division (cnt·10⁶ div total — overflow needs a 9-trillion-token
    * snapshot side); a token absent from one side counts 0 there (FULL
    * OUTER join), which is exactly the new/vanished-vocabulary signal.
    *
    * Scale shape: two map-side-combinable count-by-token passes, one
    * full-outer equi-join on the token key, a global top-N (Spark's
    * orderBy+limit plans TakeOrderedAndProject — per-partition heaps, no
    * full sort). */
  def tokenDrift(a: DataFrame, b: DataFrame, topN: Int = 50): DataFrame = {
    def counts(df: DataFrame): DataFrame = df
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val ca = counts(a).withColumnRenamed("cnt", "cnt_a")
    val cb = counts(b).withColumnRenamed("cnt", "cnt_b")
    val joined = ca.join(cb, Seq("w"), "full_outer")
      .select(col("w"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
      .crossJoin(broadcast(ca.agg(sum(col("cnt_a")).as("tot_a"))))
      .crossJoin(broadcast(cb.agg(sum(col("cnt_b")).as("tot_b"))))
      .withColumn("ppm_a", expr("(cnt_a * 1000000) div tot_a"))
      .withColumn("ppm_b", expr("(cnt_b * 1000000) div tot_b"))
      .withColumn("ppm_diff", abs(col("ppm_a") - col("ppm_b")))
    joined
      .select(col("w"), col("cnt_a"), col("cnt_b"),
        col("ppm_a"), col("ppm_b"), col("ppm_diff"))
      .orderBy(col("ppm_diff").desc, col("w").asc)
      .limit(topN)
  }

  // ------------------------- hashed linear classifier ------------------------

  /** Dedicated LCG constants for the classifier weights — own seeded
    * stream (same JDK-specified recipe as [[Dedup.HashA]]) so the weight
    * table cannot correlate with the simhash/minhash permutations that
    * share the token-id space. */
  private val clsRng = new java.util.Random(246813579L)
  val ClsA: Long = 1L + java.lang.Math.floorMod(clsRng.nextLong(), Dedup.HashP - 1)
  val ClsB: Long = java.lang.Math.floorMod(clsRng.nextLong(), Dedup.HashP)

  /** Hashed-feature dimensionality (the fastText hashing trick: tokens
    * colliding mod ClsDim share a weight, so the weight table is fixed-size
    * no matter how large the vocabulary grows). */
  val ClsDim = 4096L

  /** fastText-style linear quality classifier over hashed bag-of-words
    * features: logit(doc) = Σ_tokens w(tid mod D) with a deterministic
    * integer weight table w(j) = ((ClsA·j + ClsB) mod P) mod 2001 − 1000
    * (range [−1000, 1000]). Pure integer arithmetic end-to-end, so the
    * DuckDB oracle reproduces logits bit-exactly; a real deployment swaps
    * the LCG weight table for trained weights (a broadcast array or a
    * lookup join — the plan shape is identical).
    *
    * Scale shape: explode → equi-join with the dense vocabulary (the same
    * session-cached table every portable-hash operator shares) → map-side-
    * combinable sum per doc. At 100 TB the weight table itself never
    * shuffles — it is a function of tid, not a side table. Docs with no
    * tokens (null text) carry no feature rows and are absent, matching the
    * SQL mirror. */
  def classifierScore(docs: DataFrame,
                      vocabKey: Option[String] = None): DataFrame = {
    val t = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
    val vocab = Dedup.tokenVocabCached(t.select(col("w").as("sh")), vocabKey)
    val weight =
      ((lit(ClsA) * (col("tid") % lit(ClsDim)) + lit(ClsB)) % lit(Dedup.HashP)) % lit(2001L) - lit(1000L)
    t.join(vocab, t("w") === vocab("sh"))
      .groupBy(col("doc_id"))
      .agg(sum(weight).as("logit"))
      .select(col("doc_id"), col("logit"),
        (col("logit") > 0L).cast("int").as("label_keep"))
  }

  /** COUNT-MIN SKETCH token-frequency estimation (Cormode, Muthukrishnan
    * 2005): `depth` hash rows × `width` buckets, each cell the summed
    * count of the tokens hashing into it; a token's estimate is the MIN
    * over its `depth` cells — always ≥ the true count, within εN with
    * high probability. At 100 TB this is the heavy-hitter primitive: the
    * sketch table is depth·width rows (a broadcastable artifact) built
    * with ONE map-side-combinable shuffle keyed on (row, bucket) — the
    * exact per-token groupBy this replaces shuffles a billion-key
    * aggregation. The catalog entry ALSO computes the exact counts and
    * joins them beside the estimates to EXHIBIT the overcount bound; a
    * production run keeps only the sketch and point-queries it.
    *
    * Hashing reuses the portable LCG rows ([[Dedup.HashA]]/[[Dedup.HashB]]
    * over dense vocabulary ranks) so DuckDB rebuilds the identical sketch
    * cell-for-cell; the production form hashes tokens directly (xxhash64)
    * exactly like the minhash family's split.
    *
    * @return (token, n_exact, n_est) — n_est ≥ n_exact for every token. */
  def cmsTokenCounts(docs: DataFrame, depth: Int = 3, width: Int = 64,
                     vocabKey: Option[String] = None): DataFrame = {
    require(depth >= 1 && depth <= 32, s"depth must be in [1,32], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    val toks = docs.select(explode(split(col("text"), " ")).as("sh"))
      .filter(length(col("sh")) > 0)
    val counts = toks.groupBy(col("sh")).agg(count(lit(1)).as("n"))
    val vocab = Dedup.tokenVocabCached(toks, vocabKey)
    // (token, n, tid) exploded into its depth (row, bucket) coordinates
    val jb = counts.join(vocab, "sh")
      .select(col("sh"), col("n"), explode(array((0 until depth).map { j =>
        struct(lit(j).as("j"),
          (Dedup.lcgHash(j, col("tid")) % lit(width.toLong)).as("b"))
      }: _*)).as("jb"))
      .select(col("sh"), col("n"), col("jb.j").as("j"), col("jb.b").as("b"))
      .localCheckpoint() // two consumers: the cell sums and the probe join
    val cells = jb.groupBy(col("j"), col("b")).agg(sum(col("n")).as("cell"))
    jb.join(cells, Seq("j", "b"))
      .groupBy(col("sh"))
      .agg(min(col("n")).as("n_exact"), min(col("cell")).as("n_est"))
      .select(col("sh").as("token"), col("n_exact"), col("n_est"))
  }

  /** KMV (k-minimum-values) DISTINCT-COUNT sketch per language
    * (Bar-Yossef et al. 2002; the bottom-k sketch): hash every distinct
    * token, keep each group's k smallest distinct hash values, and
    * estimate the distinct count as (k−1)·P div h_k from the k-th
    * smallest — the approximate-distinct primitive for cardinalities too
    * large to countDistinct exactly (a billion-key exact distinct is a
    * full shuffle of every key; the sketch ships k longs per group and
    * merges by union+re-min). Groups with fewer than k distinct hashes
    * return their EXACT count (the standard KMV small-set fallback).
    *
    * The k-smallest selection reuses [[Sampling.stratifiedExactK]]'s
    * pre-thinned machinery (threshold to ~2k survivors, per-stratum
    * fallback), so no stratum ever ranks more than O(k) rows. The
    * catalog entry joins the EXACT distinct count beside the estimate to
    * exhibit the accuracy — production keeps only the sketch. */
  def kmvDistinctTokens(docs: DataFrame, k: Int = 16,
                        vocabKey: Option[String] = None): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val toks = docs.select(col("lang"),
        explode(split(col("text"), " ")).as("sh"))
      .filter(length(col("sh")) > 0)
    val lt = toks.distinct()
    val vocab = Dedup.tokenVocabCached(toks.select(col("sh")), vocabKey)
    val hs = lt.join(vocab, "sh")
      .select(col("lang").as("stratum"), col("tid"),
        Dedup.lcgHash(4, col("tid")).as("h"))
      .localCheckpoint() // two consumers: exact count and the sketch
    val hd = hs.select(col("stratum"), col("h")).distinct()
      .withColumn("doc_id", col("h")) // KMV ranks the hash value itself
    val kth = Sampling.minKByHash(hd, k, safetyMargin = 64)
      .groupBy(col("stratum"))
      .agg(max(col("h")).as("hk"), count(lit(1)).as("m"))
    val exact = hs.groupBy(col("stratum"))
      .agg(countDistinct(col("tid")).as("n_exact"))
    exact.join(kth, exact("stratum") <=> kth("stratum"))
      .select(exact("stratum").as("lang"), col("n_exact"),
        when(col("m") < k, col("m"))
          .otherwise(expr(s"(${k - 1} * ${Dedup.HashP}) div hk"))
          .as("n_est"))
  }

  /** TF-IDF-style KEY-TERM extraction: each document's top-k most
    * DISTINGUISHING terms — high in-document frequency, low document
    * frequency — the classic keyword/topic-surfacing primitive (Salton's
    * tf-idf; per-doc keyword sets feed clustering, dedup explanations,
    * and search-index boosting). The inverse-document-frequency weight
    * here is the INTEGER surrogate `(n_docs·1000) div df`: strictly
    * decreasing in df, so per-document RANKINGS match any monotone idf
    * (log-idf included) whenever df values differ, and the oracle
    * reproduces the score bit-exactly without cross-engine `ln` hazards
    * (production swaps one expression for log-idf).
    *
    * Scale shape: tf is one (doc_id, term) map-side-combinable count; df
    * aggregates tf again BY TERM (never rescans the corpus); the df join
    * keys on term — vocabulary-scaled, left to AQE to broadcast when it
    * fits (at web scale a token-df table can be GBs: forcing broadcast
    * would be wrong). The top-k selection is a per-document
    * collect_list + sort_array + slice — bounded by the DOC's distinct
    * terms, no corpus-wide Window sort. Ties rank by term ascending.
    *
    * @return (doc_id, rank 1..k, term, tf, df, score). */
  def keyTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val d = docs.filter(col("text").isNotNull)
    val tf = d.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nd = d.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df_, "term").crossJoin(broadcast(nd))
      .withColumn("score", col("tf") * expr("(n_docs * 1000) div df"))
    scored.groupBy(col("doc_id"))
      .agg(slice(sort_array(collect_list(struct(
        (-col("score")).as("neg"), col("term"), col("tf"), col("df"),
        col("score")))), 1, k).as("top"))
      .select(col("doc_id"), posexplode(col("top")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.term").as("term"), col("col.tf").as("tf"),
        col("col.df").as("df"), col("col.score").as("score"))
  }
}
