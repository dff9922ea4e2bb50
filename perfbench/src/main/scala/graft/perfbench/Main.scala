package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: build the session, set the workload up
  * `--setup-reps` times, run its fixed amount of work as a closed loop
  * of ops, and write a result file that `run.py` turns into metrics.
  *
  * {{{
  * Main --mode run|prepare|reference --workload <name> --seed <n>
  *      --ops <n> --trace 0|1 --fixture <dir> --work <dir>
  *      [--template <dir>] [--reference <file>] [--setup-reps <n>]
  *      --out <file>
  * }}}
  *
  * `prepare` builds the workload's base-state artifact store once and
  * leaves it in `--template`; every `run` copies it into its own index
  * directory, so a run never shares a store with another. `reference`
  * writes each declared query's row count and result hash to
  * `--reference`. */
object Main {

  final case class Conf(mode: String, workload: String, seed: Long,
      ops: Int, trace: Boolean, fixture: String, work: String,
      template: Option[String], reference: Option[String],
      setupReps: Int, out: String)

  private def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String): String =
      kv.getOrElse(k, sys.error(s"missing --$k"))
    Conf(kv.getOrElse("mode", "run"), need("workload"),
      kv.getOrElse("seed", "1").toLong, kv.getOrElse("ops", "1").toInt,
      kv.getOrElse("trace", "0") == "1", need("fixture"), need("work"),
      kv.get("template"), kv.get("reference"),
      kv.getOrElse("setup-reps", "1").toInt, need("out"))
  }

  /** One op's outcome. `error` names the failing call. */
  final case class Op(name: String, layer: String, wallS: Double,
      ok: Boolean, error: String)

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val t0 = System.nanoTime()
    val spark = session(conf)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, conf.trace)
    try run(conf, spark, tracer, sessionS)
    finally {
      tracer.close()
      spark.stop()
    }
  }

  private def session(conf: Conf): SparkSession = {
    val work = new File(conf.work).getAbsolutePath
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.indexDir", s"$work/index")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def run(conf: Conf, spark: SparkSession, tracer: Tracer,
      sessionS: Double): Unit = {
    val ctx = Ctx(spark, tracer, new File(conf.fixture).getAbsolutePath,
      new File(conf.work).getAbsolutePath, conf.seed)
    val wl: Workload = conf.workload match {
      case "observe_tick" => new ObserveTick(ctx)
      case "ingest_tick" => new IngestTick(ctx)
      case "query_suite" => new QuerySuite(ctx, conf.reference)
      case other => sys.error(s"unknown workload $other")
    }
    val index = Paths.get(ctx.work, "index")

    // set-up: repeated so its median is steady; the last copy is used
    val setupS = (1 to math.max(1, conf.setupReps)).map { _ =>
      val s0 = System.nanoTime()
      Files.createDirectories(Paths.get(ctx.work))
      deleteTree(index)
      conf.template.foreach(t => copyTree(Paths.get(t), index))
      wl.setUp()
      (System.nanoTime() - s0) / 1e9
    }
    val baselineS = {
      val s0 = System.nanoTime()
      if (conf.mode == "run") wl.baseline(conf.ops)
      (System.nanoTime() - s0) / 1e9
    }
    tracer.discardBuilds()
    val storeAtStart = listArtifacts(index)

    conf.mode match {
      case "prepare" =>
        wl.prepare()
        write(conf.out, s"""{"prepared":${Tracer.q(conf.workload)}}""")
      case "reference" =>
        val refs = wl.asInstanceOf[QuerySuite].reference()
        write(conf.out, refs)
      case "run" =>
        val osMx = ManagementFactory.getOperatingSystemMXBean
          .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        val cpu0 = osMx.getProcessCpuTime
        val w0 = System.nanoTime()
        val ops = wl.plan(conf.ops).map { case (name, layer, body) =>
          val o0 = System.nanoTime()
          val err =
            try { tracer.span(layer, name)(body()); "" }
            catch { case NonFatal(e) => describe(e) }
          Op(name, layer, (System.nanoTime() - o0) / 1e9, err.isEmpty, err)
        }
        val runS = (System.nanoTime() - w0) / 1e9
        val cpuS = (osMx.getProcessCpuTime - cpu0) / 1e9
        tracer.settle()
        val storeBytes = treeBytes(index)
        val srcBytes = wl.sourceBytes()
        val opsJson = ops.map(o =>
          s"""{"name":${Tracer.q(o.name)},"layer":${Tracer.q(o.layer)},""" +
            s""""wall_s":${o.wallS},"ok":${o.ok},"error":${Tracer.q(o.error)}}""")
          .mkString("[", ",", "]")
        val traceJson =
          if (!conf.trace) "null"
          else tracer.toJson(b => buildBytes(index, b))
        val extra = wl.extraMetrics().map { case (k, v) =>
          s"${Tracer.q(k)}:$v" }.mkString("{", ",", "}")
        write(conf.out,
          s"""{"workload":${Tracer.q(conf.workload)},"seed":${conf.seed},""" +
            s""""session_s":$sessionS,"setup_s":${setupS.mkString("[", ",", "]")},""" +
            s""""baseline_s":$baselineS,"run_s":$runS,"cpu_s":$cpuS,""" +
            s""""rss_peak_mb":${rssPeakMb()},"store_bytes":$storeBytes,""" +
            s""""src_bytes":$srcBytes,""" +
            s""""store_at_start":${storeAtStart.map(Tracer.q).mkString("[", ",", "]")},""" +
            s""""extra":$extra,"ops":$opsJson,"trace":$traceJson}""")
      case other => sys.error(s"unknown mode $other")
    }
  }

  /** The exception class and the first line of its message. */
  private def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator
      .take(1).mkString
    s"${e.getClass.getName}: $msg".take(400)
  }

  private def rssPeakMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  /** Bytes of the directory a build published (its `fp=` head). */
  private def buildBytes(index: Path, b: Tracer.Build): Long =
    treeBytes(index.resolve(b.artifact).resolve(s"fp=${b.fingerprint}"))

  private def listArtifacts(index: Path): Seq[String] =
    if (!Files.isDirectory(index)) Nil
    else Option(index.toFile.list()).map(_.toSeq.sorted).getOrElse(Nil)

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try {
        var n = 0L
        st.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
        n
      } finally st.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try {
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.delete(f))
      } finally st.close()
    }

  /** Copy a tree keeping modification times: the IndexStore fingerprint
    * covers (path, length, mtime), so a copy made this way serves the
    * artifacts built over the original at the same path. */
  def copyTree(src: Path, dst: Path): Unit = {
    val st = Files.walk(src)
    try st.forEach { f =>
      val to = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to)
      else Files.copy(f, to, StandardCopyOption.COPY_ATTRIBUTES,
        StandardCopyOption.REPLACE_EXISTING)
    } finally st.close()
  }

  private def write(path: String, text: String): Unit =
    Files.writeString(Paths.get(path), text)
}

/** What every workload shares: the session, the tracer, the read-only
  * fixture, the run's own work directory and the seed. */
final case class Ctx(spark: SparkSession, tracer: Tracer, fixture: String,
    work: String, seed: Long)

trait Workload {
  /** One set-up repetition: lay out the warehouse copy from scratch. */
  def setUp(): Unit
  /** Work that must precede the first of `n` ops; it counts as set-up. */
  def baseline(n: Int): Unit = ()
  /** Build the base-state artifact store for the template. */
  def prepare(): Unit
  /** The run's `n` units of work as ops: (name, layer, body). A body
    * throws on a failed call or a failed check. */
  def plan(n: Int): Seq[(String, String, () => Unit)]
  def sourceBytes(): Long
  def extraMetrics(): Seq[(String, Double)] = Nil
}
