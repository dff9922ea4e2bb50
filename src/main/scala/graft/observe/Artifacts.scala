package graft.observe

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One persisted artifact, declared once: its name and build-logic
  * version, its source (one warehouse table plus zero or more upstream
  * artifacts it is derived from) and how its rows decompose over the
  * table's files ([[Decomp]]), which decides the lifecycle steps a
  * source change may take instead of a full rebuild. The reference
  * models what it observes as assets declaring their upstreams
  * (`AssetSpec(deps=…)`); this is the same model applied to the
  * engine's own derived state.
  *
  * The fingerprint preimage folds in the upstreams' identities
  * (`name@version`, recursively), so bumping an upstream's version
  * moves exactly its dependents' fingerprints — nothing has to be
  * co-versioned by hand. A spec without upstreams keeps the classic
  * `(version, manifest)` preimage byte for byte.
  *
  * @param table  the source table under the warehouse dir a read
  *               passes (`<dir>/<table>.parquet`); empty means the
  *               dir itself (the whole warehouse, or an ad-hoc path)
  * @param deps   upstream specs, by name so declarations in different
  *               modules never force each other's initialization; a
  *               [[Decomp.Gate.Model]] artifact lists its model first */
final class ArtifactSpec private (val name: String, val version: Int,
    val table: String, val decomp: Decomp, deps: () => Seq[ArtifactSpec]) {

  lazy val upstreams: Seq[ArtifactSpec] = deps()

  /** `name@version`, then the upstreams' identities in parentheses. */
  lazy val identity: String =
    if (upstreams.isEmpty) s"$name@$version"
    else upstreams.map(_.identity).mkString(s"$name@$version(", ",", ")")

  /** The source directory this artifact is keyed on under `dir`. */
  def source(dir: String): String =
    if (table.isEmpty) dir else s"$dir/$table.parquet"

  /** The fingerprint's `extra` block: the upstream identities,
    * length-prefixed, ahead of a read's own parameterization. */
  private[observe] def keyExtra(extra: String): String =
    if (upstreams.isEmpty) extra
    else {
      val up = upstreams.map(_.identity).mkString(",")
      s"${up.length}:$up$extra"
    }

  override def toString: String = identity
}

object ArtifactSpec {
  def apply(name: String, version: Int, table: String, decomp: Decomp,
      deps: => Seq[ArtifactSpec] = Nil): ArtifactSpec =
    new ArtifactSpec(name, version, table, decomp, () => deps)
}

/** How an artifact's rows decompose over its source table's files.
  * Every build function receives the session and the warehouse dir
  * the artifact is read for. */
sealed trait Decomp

object Decomp {
  type Build = (SparkSession, String) => DataFrame

  /** `incr(previous, addedPaths)` builds a pure append's delta segment,
    * or returns null to decline it (the build falls back to full). */
  type Incr = (SparkSession, String) => (DataFrame, Seq[String]) => DataFrame

  /** `accept(deletedLines, addedPaths)`: may the previous state's model
    * (or segments) carry across this source transition? */
  type Carry = (SparkSession, String) => (Seq[String], Seq[String]) => Boolean

  /** Rebuilt in full whenever the source changes. */
  final case class Full(build: Build) extends Decomp

  /** A pure append chains `incr`'s delta onto the previous artifact;
    * `union(previous, delta)` must equal the full build. */
  final case class Append(full: Build, incr: Incr) extends Decomp

  /** A union of independent per-file contributions: appends build
    * `perFiles(added)` as a delta, deletions excise the touched
    * segments — both only while `gate` lets the segments carry across
    * the transition; otherwise the artifact rebuilds in full. */
  final case class Segmented(
      perFiles: (SparkSession, String) => Seq[String] => DataFrame,
      gate: Gate = Gate.Open) extends Decomp

  /** When may a [[Segmented]] artifact's segments carry across a
    * source transition? */
  sealed trait Gate

  object Gate {
    /** Always: each contribution depends on its files alone. */
    case object Open extends Gate

    /** While the first upstream — the trained model the contributions
      * are encoded against — carried (append-frozen or
      * delete-carried); a retrained model re-encodes everything. */
    case object Model extends Gate

    /** When `carry(deletedLines, addedPaths)` says so. */
    final case class When(carry: Carry) extends Gate
  }

  /** A trained model: [[Append]]'s freeze-or-retrain rule on append,
    * plus delete-carry — a takedown that `accept` admits republishes
    * the donor's model unchanged at the new source state. */
  final case class Model(full: Build, incr: Incr, accept: Carry)
      extends Decomp

  /** Rows cluster by `partCol`, and a partition depends only on its
    * own input rows and its slice of the read's `extra`:
    * `build(touched)` re-extracts the touched partitions (None: all),
    * untouched ones re-link to the donor. `build` also receives the
    * `extra`; `extraDiff(old, new)` names the partitions whose slice
    * moved (None: not attributable, rebuild all). */
  final case class Partitioned(partCol: String,
      build: (SparkSession, String, String) => Option[Set[String]] => DataFrame,
      extraDiff: (String, String) => Option[Set[String]]) extends Decomp
}

/** Every source-keyed artifact the engine persists, and the edges
  * between them. A new artifact is one spec next to its builder plus
  * one entry here. */
object Artifacts {
  import graft.ops.{Gates, Lineage, Llm, Multimodal, Relational,
    Retrieval, SigFamilies}
  import graft.plans.MvCatalog

  def all: Seq[ArtifactSpec] =
    Seq(Llm.shingleSetsSpec, Llm.sizedPostingsSpec, Llm.minhashBandsSpec,
      Llm.neardupPairsSpec, Llm.prefixIndexSpec, Llm.winnowFpsSpec,
      Llm.bpeMergesSpec, Llm.ivfCentroidsSpec, Llm.ivfClustersSpec,
      Llm.hyperplaneBucketsSpec, Llm.docCountsAggSpec, Llm.tokenHllSpec,
      Llm.sq8ScalesSpec, Llm.sq8VectorsSpec, Llm.pqCodebooksSpec,
      Llm.pqCodesSpec, Llm.rpqCodebooksSpec, Llm.rpqCodesSpec,
      Llm.docChunksSpec, Llm.sourceTokenCountsSpec, Llm.textHashesSpec,
      Llm.curatedTrainSlimSpec, Llm.mixShardsSpec, Llm.curatedMixShardsSpec,
      Retrieval.bm25PostingsSpec, Relational.admittedBasketsSpec,
      Relational.copurchaseAdjacencySpec, Lineage.fkEdgesSpec,
      Multimodal.mediaBlockPostingsSpec, Multimodal.audioFpsSpec,
      Multimodal.rasterAHashSpec, Multimodal.mediaContainment.setSpec,
      Multimodal.audioContainment.setSpec, MvCatalog.lineitemDailySpec) ++
      SigFamilies.all.flatMap(_.stop.map(_.spec)) ++ Gates.all.map(_.ledgerSpec)

  /** The registry's edges as a relation: one row per (artifact,
    * upstream), and one row with a null upstream for an artifact
    * without any. `source` is the table it is keyed on (null: the
    * whole warehouse dir). */
  def graph(s: SparkSession): DataFrame = {
    val sess = s
    import sess.implicits._
    all.flatMap { a =>
      val ups: Seq[Option[String]] =
        if (a.upstreams.isEmpty) Seq(None) else a.upstreams.map(u => Some(u.name))
      ups.map((a.name, a.version, Option(a.table).filter(_.nonEmpty), _))
    }.toDF("artifact", "version", "source", "upstream")
  }
}
