package graft.sources

import graft.graph.BgpMatcher
import graft.graph.BgpMatcher.{C, Term, TriplePattern, V}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** MATERIALIZED reasoning state — the production form of
  * [[graft.Queries.kgRuleInferDelta]]'s theorem, completing the store
  * family ([[KgRollupStore]] persists aggregation state, [[SigStore]]
  * dedup signatures; this persists INFERENCE state).
  *
  * The catalog entry proves (by DuckDB hash) that the semi-naive delta
  * evaluation of a CONSTRUCT rule equals the full re-derivation; what a
  * production deployment additionally needs is yesterday's state AS A
  * STORED ARTIFACT, so the daily job grounds ONLY delta-touching rule
  * bodies — the old graph is never re-ground against itself, never even
  * readable (the spec deletes the init corpus and merges anyway). Two
  * tables per version: the DISTINCT edge set (the semi-naive branches
  * and the observation anti-join both need it) and the DERIVED head set
  * (`construct(..., newOnly = false)` — heads are kept even when
  * currently observed, because "inferred" is a VIEW: an edge asserted
  * today and retracted from a future snapshot becomes inferable again
  * only if its derivation was never discarded).
  *
  * The rule itself is part of the committed metadata: merging under a
  * different (body, head) than the store was built with is rejected —
  * mixed-rule derivation sets are silently wrong in exactly the way a
  * fingerprint cannot catch.
  *
  * Durability protocol = [[KgRollupStore]]'s: versioned subdirectories,
  * atomic meta-sidecar commit, last-batch fingerprint making a re-merge
  * of the committed batch a no-op (resumable orchestration).
  */
object DerivationStore {

  val MetaFile = "_graft_deriv_meta.txt"

  final case class Meta(version: Int, batches: Int, edgeRows: Long,
                        derivedRows: Long, lastBatchFp: (Long, Long),
                        rule: String)

  /** Canonical one-line rendering of a CONSTRUCT rule — the identity the
    * store commits to. The rendering must be INJECTIVE (the rule-identity
    * guard compares `meta.rule == renderRule`), so terms that could not
    * round-trip through [[parseRule]] are rejected loudly: whitespace
    * inside a term breaks the 3-token pattern split, a bare "." or "=>"
    * term collides with the separators, and a constant starting with '?'
    * would re-parse as a variable. Dotted identifiers/IRIs are fine — the
    * parser splits only on whitespace-delimited separators. */
  def renderRule(body: Seq[TriplePattern], head: TriplePattern): String = {
    def t(x: Term) = x match {
      case V(n) =>
        require(n.nonEmpty && !n.exists(_.isWhitespace),
          s"variable name must be non-empty and whitespace-free, got '$n'")
        s"?$n"
      case C(v) =>
        require(v.nonEmpty && !v.exists(_.isWhitespace) &&
          v != "." && v != "=>" && !v.startsWith("?"),
          s"constant term must be non-empty, whitespace-free, not '.', " +
            s"not '=>', and not start with '?', got '$v'")
        v
    }
    def p(tp: TriplePattern) = s"${t(tp.s)} ${t(tp.p)} ${t(tp.o)}"
    body.map(p).mkString(" . ") + " => " + p(head)
  }

  /** Inverse of [[renderRule]]: parse `"?x filter ?m . ?m group ?y =>
    * ?x scan ?y"` — `?`-prefixed tokens are variables, anything else a
    * constant; body patterns separated by a STANDALONE `.` token (the
    * separator must be whitespace-delimited, so dotted identifiers/IRIs
    * inside a term survive), exactly one standalone `=>` before the head.
    * The CLI surface takes rules in this form so a production run never
    * hardcodes one. */
  def parseRule(rule: String): (Seq[TriplePattern], TriplePattern) = {
    def term(t: String): Term =
      if (t.startsWith("?")) V(t.substring(1)) else C(t)
    def pattern(p: String): TriplePattern = {
      val toks = p.trim.split("\\s+")
      require(toks.length == 3,
        s"a triple pattern needs exactly 3 terms, got '${p.trim}' " +
          "(body patterns are separated by a '.' with whitespace around it)")
      TriplePattern(term(toks(0)), term(toks(1)), term(toks(2)))
    }
    // split only on whitespace-delimited separator tokens: "a.b" or
    // "x=>y" inside a term is content, " . " / " => " is structure
    val halves = rule.trim.split("(^|\\s)=>(\\s|$)")
    require(halves.length == 2,
      s"a rule needs exactly one '=>' with whitespace around it, got '$rule'")
    val body = halves(0).split("(^|\\s)\\.(\\s|$)").map(pattern).toSeq
    require(body.nonEmpty, "rule body is empty")
    (body, pattern(halves(1)))
  }

  /** Content fingerprint of an edge batch: (rows, xor of per-row
    * hashes) — order-independent, overflow-free under ANSI. */
  def batchFingerprint(edges: DataFrame): (Long, Long) = {
    val r = edges.agg(count(lit(1)),
      bit_xor(xxhash64(col("subj"), col("pred"), col("obj")))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def triple(df: DataFrame): DataFrame =
    df.select(col("subj"), col("pred"), col("obj"))

  private def write(df: DataFrame, dir: String): Long = {
    df.repartition(col("subj"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
    df.sparkSession.read.parquet(dir).count()
  }

  /** Create the store from the initial edge batch (version 0). */
  def init(edges: DataFrame, body: Seq[TriplePattern], head: TriplePattern,
           path: String): Meta = {
    Files.createDirectories(Paths.get(path))
    val e = triple(edges).distinct().localCheckpoint() // body + fp read it
    val fp = batchFingerprint(e)
    val edgeRows = write(e, s"$path/v0/edges")
    val derivedRows = write(
      BgpMatcher.construct(e, body, head, newOnly = false),
      s"$path/v0/derived")
    val meta = Meta(0, 1, edgeRows, derivedRows, fp, renderRule(body, head))
    writeMeta(path, meta)
    meta
  }

  /** The committed version's stored edge set. */
  def readEdges(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/v${readMeta(path).version}/edges")

  /** The current INFERRED set — derived heads not observed as edges (the
    * same anti-join `construct(newOnly = true)` ends with, evaluated
    * against the stored state instead of a recompute). */
  def readInferred(spark: SparkSession, path: String): DataFrame = {
    val v = readMeta(path).version
    spark.read.parquet(s"$path/v$v/derived")
      .join(spark.read.parquet(s"$path/v$v/edges"),
        Seq("subj", "pred", "obj"), "left_anti")
  }

  /** Merge a delta edge batch: semi-naive grounding against the STORED
    * edges + derivation ([[BgpMatcher.constructDelta]] with
    * newOnly = false), write the next version, commit atomically.
    * Re-merging the last committed batch is a no-op; a different rule
    * than the one the store was built with is rejected. */
  def merge(deltaEdges: DataFrame, body: Seq[TriplePattern],
            head: TriplePattern, path: String): Meta = {
    val spark = deltaEdges.sparkSession
    val meta = readMeta(path)
    require(meta.rule == renderRule(body, head),
      s"store was built for rule '${meta.rule}', not " +
        s"'${renderRule(body, head)}'")
    val delta = triple(deltaEdges).distinct().localCheckpoint()
    val fp = batchFingerprint(delta)
    if (fp == meta.lastBatchFp) return meta // resume: already committed
    val old = spark.read.parquet(s"$path/v${meta.version}/edges")
    val oldDerived = spark.read.parquet(s"$path/v${meta.version}/derived")
    val next = meta.version + 1
    val edgeRows = write(old.unionByName(delta).distinct(),
      s"$path/v$next/edges")
    val derivedRows = write(
      BgpMatcher.constructDelta(old, delta, oldDerived, body, head,
        newOnly = false),
      s"$path/v$next/derived")
    val out = Meta(next, meta.batches + 1, edgeRows, derivedRows, fp,
      meta.rule)
    writeMeta(path, out) // the commit point
    out
  }

  def readMeta(path: String): Meta = {
    val l = Files.readAllLines(Paths.get(path, MetaFile),
      StandardCharsets.UTF_8)
    val f = l.get(0).split(' ')
    Meta(f(0).toInt, f(1).toInt, f(2).toLong, f(3).toLong,
      (f(4).toLong, f(5).toLong), l.get(1))
  }

  /** The sidecar is the commit point ([[Sidecar.commit]]: atomic). */
  private def writeMeta(path: String, m: Meta): Unit = {
    val body = s"${m.version} ${m.batches} ${m.edgeRows} " +
      s"${m.derivedRows} ${m.lastBatchFp._1} ${m.lastBatchFp._2}\n" +
      s"${m.rule}\n"
    Sidecar.commit(path, MetaFile, body)
  }
}

/** Production inference-maintenance main — the reasoning sibling of
  * [[KgRollupJob]]:
  * {{{
  *   runMain graft.sources.DerivationJob init  <docsParquet>  <storeDir> "<rule>"
  *   runMain graft.sources.DerivationJob merge <deltaParquet> <storeDir> "<rule>"
  *   runMain graft.sources.DerivationJob infer <storeDir> <outParquet>
  * }}}
  * Documents are (doc_id, text) parquet; edges come from the catalog's
  * single-scan typed extraction ([[graft.Queries.kgTypedTriplesOf]],
  * distinct). The rule is a CLI argument in [[DerivationStore.parseRule]]
  * form (e.g. `"?x filter ?m . ?m group ?y => ?x scan ?y"`, whitespace
  * around every `.` and `=>`) — the store rejects a merge under a different rule than it committed to. `infer`
  * writes the current inferred view (stored heads minus observed edges)
  * without touching any corpus. Prints one summary line. Sessions come
  * from [[graft.GraftSession.production]] — default split sizes, AQE on. */
object DerivationJob {

  /** The testable surface `main` wraps (the RunJob/CurationJob split:
    * specs drive `run` on their own session). Returns the summary line. */
  def run(spark: SparkSession, args: Array[String]): String = {
    val mode = args.headOption.getOrElse("")
    require(Set("init", "merge").contains(mode) && args.length == 4 ||
      mode == "infer" && args.length == 3,
      "usage: DerivationJob init|merge <docsParquet> <storeDir> \"<rule>\"" +
        " | DerivationJob infer <storeDir> <outParquet>; a rule reads" +
        " \"?x p ?m . ?m q ?y => ?x r ?y\", with whitespace around every" +
        " '.' and '=>'")
    if (mode == "infer") {
      DerivationStore.readInferred(spark, args(1))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(args(2))
      val n = spark.read.parquet(args(2)).count()
      s"DERIVATION inferred=$n out=${args(2)}"
    } else {
      val (body, head) = DerivationStore.parseRule(args(3))
      val edges = graft.Queries.kgTypedTriplesOf(
          spark.read.parquet(args(1)))
        .select(col("subj"), col("pred"), col("obj")).distinct()
      val meta =
        if (mode == "init") DerivationStore.init(edges, body, head, args(2))
        else DerivationStore.merge(edges, body, head, args(2))
      s"DERIVATION version=${meta.version} batches=${meta.batches} " +
        s"edges=${meta.edgeRows} derived=${meta.derivedRows}"
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.production(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), "graft-derivation")
    spark.sparkContext.setLogLevel("WARN")
    println(run(spark, args))
    spark.stop()
  }
}
