package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** Every declared query once per pass, in a seeded order, through the
  * noop sink over the read-only fixture. Each query is charged to the
  * registry that declares it, and its row count and order-insensitive
  * hash are checked against the stored reference. */
final class QuerySuite(ctx: Ctx, referencePath: Option[String])
    extends Workload {

  /** Query name → declaring registry (the per-layer split). */
  val registryOf: Map[String, String] = Seq(
    "relational" -> graft.ops.Relational.queries,
    "lineage" -> graft.ops.Lineage.queries,
    "catalog" -> graft.catalog.Discovery.queries,
    "nodes" -> graft.catalog.Nodes.queries,
    "llm" -> graft.ops.Llm.queries,
    "topk" -> graft.functions.TopK.queries,
    "sketches" -> graft.functions.Sketches.queries,
    "multimodal" -> graft.ops.Multimodal.queries,
    "materialize" -> graft.observe.Materialize.queries,
    "runs" -> graft.model.Runs.queries,
    "layout" -> graft.sources.Layout.queries,
    "retrieval" -> graft.ops.Retrieval.queries,
    "cdc" -> graft.ops.Cdc.queries,
    "expectations" -> graft.observe.Expectations.queries,
  ).flatMap { case (reg, qs) => qs.keys.map(_ -> reg) }.toMap

  private val queries = SparkEntry.queries
  private val dir = s"${ctx.fixture}"

  /** name → (rows, hash) from the reference file. */
  private lazy val expected: Map[String, (Long, String)] =
    referencePath.filter(p => Files.exists(Paths.get(p))).map { p =>
      val text = Files.readString(Paths.get(p))
      """"([A-Za-z0-9_]+)":\{"rows":(\d+),"hash":"([0-9a-f:]+)"""".r
        .findAllMatchIn(text)
        .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
    }.getOrElse(Map.empty)

  def setUp(): Unit = ()

  /** The template store holds the artifacts of the first 48 queries of
    * [[suiteOrder]]; a longer run builds the rest in its warm-up pass,
    * which counts as set-up. */
  def prepare(): Unit = suiteOrder.take(48).foreach(runChecked)

  /** One untimed pass over the run's queries, so the timed passes see
    * warm code paths instead of whichever query happens to run first
    * paying the process's one-time warm-up. */
  override def baseline(n: Int): Unit =
    pass(suiteOrder.take(queriesPerRun(n)), 0).foreach(_._3())

  /** The fixed query order a run takes its first `n` queries from:
    * registries interleaved round-robin (each in name order), so any
    * prefix spreads over every registry. */
  val suiteOrder: Seq[String] = {
    val byReg = registryOf.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
      .map(_._2.map(_._1).sorted)
    (0 until byReg.map(_.size).max).flatMap(i => byReg.flatMap(_.lift(i)))
  }

  /** A run's `n` ops are `QuerySuite.timedPasses` passes over the first
    * `n / timedPasses` queries of [[suiteOrder]], each pass in its own
    * seeded order. */
  private def queriesPerRun(n: Int): Int =
    math.max(1, n / QuerySuite.timedPasses)

  def plan(n: Int): Seq[(String, String, () => Unit)] = {
    val qs = suiteOrder.take(queriesPerRun(n))
    (1 to QuerySuite.timedPasses).flatMap(p => pass(qs, p))
  }

  private def pass(qs: Seq[String], p: Int)
      : Seq[(String, String, () => Unit)] =
    new Random(ctx.seed * 7919L + p).shuffle(qs).map { q =>
      (q, registryOf.getOrElse(q, "unregistered"), () => {
        val (rows, hash) = runChecked(q)
        val (eRows, eHash) = expected.getOrElse(q,
          throw new IllegalStateException(s"$q: no reference"))
        if (rows != eRows || hash != eHash)
          throw new IllegalStateException(
            s"$q: rows=$rows hash=$hash, reference rows=$eRows hash=$eHash")
      })
    }

  /** Run one query through the noop sink with an observed row count
    * and hash riding on the same execution. */
  def runChecked(name: String): (Long, String) = {
    val df = queries(name)(ctx.spark, dir)
    val obs = Observation(s"check_$name")
    QuerySuite.withChecksum(df, obs)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    val rows = m("rows").asInstanceOf[Long]
    def part(k: String): Long = Option(m(k)).map(_.asInstanceOf[Long])
      .getOrElse(0L)
    (rows, f"${part("hi")}%x:${part("lo")}%x")
  }

  /** `{"q":{"rows":n,"hash":"..."},...}` for every declared query. */
  def reference(): String =
    queries.keys.toSeq.sorted.map { n =>
      val (rows, hash) = runChecked(n)
      s""""$n":{"rows":$rows,"hash":"$hash"}"""
    }.mkString("{\n", ",\n", "\n}\n")

  def sourceBytes(): Long = Main.treeBytes(Paths.get(dir))
}

object QuerySuite {
  /** Timed passes per run over the same queries. */
  val timedPasses = 2

  /** A type the row hash treats identically on every run: doubles are
    * narrowed to float (summation order moves only the last bits of a
    * double) and maps, which have no hash, become their string form. */
  private def stable(dt: DataType): DataType = dt match {
    case DoubleType => FloatType
    case _: MapType => StringType
    case ArrayType(et, n) => ArrayType(stable(et), n)
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = stable(f.dataType))))
    case other => other
  }

  /** `df` with an observation of its row count and the sum of its row
    * hashes, split in two 32-bit halves so the sums cannot overflow.
    * The sum does not depend on row order. */
  def withChecksum(df: DataFrame, obs: Observation): DataFrame = {
    // positional names: a result may carry two columns of one name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map(f =>
      col(f.name).cast(stable(f.dataType)))
    val h =
      if (cols.isEmpty) lit(0L)
      else xxhash64(cols: _*)
    named.observe(obs,
      count(lit(1)).as("rows"),
      sum(shiftrightunsigned(h, 32)).as("hi"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"))
  }
}
