package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.observe.{Artifacts, Decomp, IndexStore}

/** The footer memo behind [[Tables.scan]] and [[Tables.rowCount]]:
  * over source tables and artifact chains alike it answers exactly
  * what schema inference and a count job would, and it reads a data
  * file's footer once per `path|len|mtime` identity. */
class TablesSpec extends SparkSuite {

  /** The scan entry's schema and footer count against the bare read's
    * inference and count job. */
  private def sameAsBare(what: String, paths: Seq[String],
      basePath: Option[String] = None): Unit = {
    val bare = basePath.fold(spark.read)(b => spark.read.option("basePath", b))
      .parquet(paths: _*)
    assert(Tables.scan(spark, paths, basePath).schema === bare.schema,
      s"$what: schema")
    assert(Tables.rowCount(spark, paths) === bare.count(), s"$what: rows")
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val all = Files.walk(from)
    try all.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    } finally all.close()
  }

  test("every fixture table: the scan's schema and footer count equal " +
    "the bare read's") {
    Tables.all.foreach(t => sameAsBare(t, Seq(s"$sf/$t.parquet")))
    // events.ts is TIMESTAMP(NANOS) in older fixtures: the memo converts
    // it under the session's legacy flag, as inference does
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("every artifact chain after two appends, and the partitioned " +
    "curated shards: the scan's schema and footer count equal the bare " +
    "read's") {
    val wh = tempDir("graft-footers").toString
    Tables.all.foreach(t => copyTree(Paths.get(s"$sf/$t.parquet"),
      Paths.get(s"$wh/$t.parquet")))
    val docs = Tables.load(spark, sf, "documents")
    val embs = Tables.load(spark, sf, "embeddings")
    def state(k: Int, mode: String): Unit = {
      docs.filter(col("doc_id") % 3 === k).coalesce(1)
        .write.mode(mode).parquet(s"$wh/documents.parquet")
      embs.filter(col("vec_id") % 3 === k).coalesce(1)
        .write.mode(mode).parquet(s"$wh/embeddings.parquet")
    }
    val chains = Artifacts.all.filterNot(_.decomp.isInstanceOf[Decomp.Partitioned])
    def readAll(): Unit = {
      chains.foreach(a => IndexStore.read(spark, a, wh))
      graft.ops.Llm.curatedMixShards(spark, wh).count()
    }
    state(0, "overwrite")
    readAll()
    Seq(1, 2).foreach { k => Thread.sleep(5); state(k, "append"); readAll() }
    assert(IndexStore.isChained(spark, graft.ops.Llm.shingleSetsSpec, wh),
      "the appends must have chained delta segments")
    chains.foreach { a =>
      val df = IndexStore.read(spark, a, wh)
      assert(df.schema === spark.read.parquet(df.inputFiles.toSeq: _*).schema,
        s"${a.name}: schema")
      assert(IndexStore.rowCount(spark, a, wh) === df.count(), s"${a.name}: rows")
    }
    // the shard sink's heads over this warehouse: its own partition
    // dirs, and the donor partitions it links
    val base = new Path(s"${IndexStore.root(spark)}/curated_mix_shards")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def small(p: Path): String =
      if (!fs.exists(p)) ""
      else { val in = fs.open(p); try new String(in.readAllBytes(), "UTF-8") finally in.close() }
    val heads = fs.listStatus(base).map(_.getPath)
      .filter(h => h.getName.startsWith("fp=") && small(new Path(h, "_MANIFEST")).contains(wh))
    assert(heads.nonEmpty)
    heads.foreach { h =>
      val own = new Path(h, "data")
      if (fs.exists(own) && fs.listStatus(own).exists(_.getPath.getName.contains("=")))
        sameAsBare(s"${h.getName} own", Seq(own.toString))
      val links = small(new Path(h, "_PARTS")).split("\n").filter(_.nonEmpty)
      if (links.nonEmpty) {
        val donor = new Path(base, links.head.split('/').take(2).mkString("/"))
        sameAsBare(s"${h.getName} links", links.map(l => new Path(base, l).toString).toSeq,
          Some(donor.toString))
      }
    }
    val shards = graft.ops.Llm.curatedMixShards(spark, wh)
    assert(shards.columns.toSeq === Seq("source", "doc_id", "n_tok", "cum"))
  }

  test("a file rewritten in place is read again; an append reads only " +
    "the new files' footers") {
    val s = spark
    import s.implicits._
    val src = tempDir("graft-footer-memo").toString + "/t.parquet"
    Files.createDirectories(Paths.get(src))
    def put(name: String, df: DataFrame): Unit = {
      val tmp = tempDir("graft-footer-part").toString + "/p"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(src, name), StandardCopyOption.REPLACE_EXISTING)
    }
    def identity(name: String): String = {
      val p = new Path(s"$src/$name")
      IndexStore.manifestLine(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
    }
    def reads(): Long = Tables.footerReads.get
    put("a.parquet", Seq(1L, 2L).toDF("x"))
    put("b.parquet", Seq(3L).toDF("x"))
    val r0 = reads()
    assert(Tables.rowCount(spark, Seq(src)) === 3L)
    assert(reads() - r0 === 2)
    assert(Tables.rowCount(spark, Seq(src)) === 3L)
    assert(Tables.scan(spark, Seq(src)).schema.fieldNames.toSeq === Seq("x"))
    assert(reads() - r0 === 2, "a call over seen files reads no footer")
    put("c.parquet", Seq(4L, 5L).toDF("x"))
    assert(Tables.rowCount(spark, Seq(src)) === 5L)
    assert(reads() - r0 === 3, "an append reads only the new file's footer")
    val before = identity("a.parquet")
    put("a.parquet", Seq((1L, "p"), (2L, "q"), (9L, "r")).toDF("x", "y"))
    assert(identity("a.parquet") !== before)
    assert(Tables.rowCount(spark, Seq(src)) === 6L)
    assert(reads() - r0 === 4, "the rewritten file's footer is read again")
    // a.parquet is the first file by path, so its schema is the scan's
    sameAsBare("rewritten", Seq(src))
    assert(Tables.scan(spark, Seq(src)).schema.fieldNames.toSeq === Seq("x", "y"))
  }
}
