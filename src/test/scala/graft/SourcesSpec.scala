package graft

import java.nio.file.Files

import org.apache.spark.sql.types.StructType

import graft.sources.Formats

/** File-format ingest edge: explicit-schema JSONL/CSV reads with
  * quarantine routing (T5 as a row-level contract) — no schema
  * inference pass, bad rows never abort the batch. */
class SourcesSpec extends SparkSuite {

  private val schema = StructType.fromDDL("job_id BIGINT, name STRING")

  private def tmpWrite(ext: String, lines: Seq[String]): String = {
    val dir = tempDir(s"graft-src-$ext").toFile
    val f = new java.io.File(dir, s"data.$ext")
    Files.write(f.toPath, String.join("\n", lines: _*).getBytes)
    f.getAbsolutePath
  }

  test("jsonl: clean rows parse, corrupt rows quarantine with raw bytes") {
    val path = tmpWrite("jsonl", Seq(
      """{"job_id": 1, "name": "a"}""",
      """{"job_id": 2, "name": "b"}""",
      """{broken""",
      """{"job_id": 4, "name": "d"}"""))
    val (clean, dirty) = Formats.quarantine(
      Formats.readJsonl(spark, path, schema))
    assert(clean.columns.toSeq === Seq("job_id", "name"))
    assert(clean.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, "b"), (4L, "d")))
    assert(dirty.collect().map(_.getString(0)).toSeq === Seq("{broken"))
  }

  test("csv: type-mismatched row quarantines, schema is not inferred") {
    val path = tmpWrite("csv", Seq(
      "job_id,name",
      "1,a",
      "oops,b",
      "3,c"))
    val df = Formats.readCsv(spark, path, schema)
    assert(df.schema("job_id").dataType.typeName === "long") // explicit, not inferred
    val (clean, dirty) = Formats.quarantine(df)
    assert(clean.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (3L, "c")))
    assert(dirty.collect().map(_.getString(0)).toSeq === Seq("oops,b"))
  }

  test("readers tolerate a fully-clean file (empty quarantine side)") {
    val path = tmpWrite("jsonl", Seq("""{"job_id": 7, "name": "x"}"""))
    val (clean, dirty) = Formats.quarantine(
      Formats.readJsonl(spark, path, schema))
    assert(clean.count() === 1L)
    assert(dirty.isEmpty)
  }

  test("bucketed twin: built once, re-attached metadata-only, same rows") {
    import graft.sources.Bucketed
    val s = spark
    val n = Bucketed.bucketCount(s, sf, "orders")
    val first = Bucketed.table(s, sf, "orders", "o_orderkey", n)
    val raw = Tables.load(s, sf, "orders")
    assert(first.count() === raw.count())
    // locate the layout files through the catalog-registered location
    val ident = s.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_orders_b_")).head
    val loc = s.sql(s"DESCRIBE TABLE EXTENDED $ident").collect()
      .find(_.getString(0) == "Location").get.getString(1)
    def listing = {
      val d = new java.io.File(new java.net.URI(loc))
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).sortBy(_._1).toSeq
    }
    val before = listing
    assert(before.nonEmpty)
    // one file per bucket: the pre-write repartition aligns tasks with
    // bucket ids, so the layout never explodes into tasks×buckets files
    assert(before.size === n)
    // simulate a fresh session: catalog entry gone, files still on disk
    s.sql(s"DROP TABLE $ident")
    val again = Bucketed.table(s, sf, "orders", "o_orderkey", n)
    assert(again.count() === raw.count())
    assert(listing === before, "re-attach must not rewrite the layout")
  }

  test("bucket count derives from source bytes with a parallelism floor") {
    import graft.sources.Bucketed
    val floor = spark.sparkContext.defaultParallelism
    // fixture tables are far below one 128 MB bucket: floor wins
    assert(Bucketed.bucketCount(spark, sf, "orders") === floor)
    // size-driven regime: shrink the target so bytes dominate — the
    // derivation must scale with the source, not sit on a constant
    val tiny = Bucketed.bucketCount(spark, sf, "orders", targetBytes = 1024)
    assert(tiny > floor)
  }

  test("schema evolution: mergeSchema unions parquet generations; " +
    "old rows read the added column as null") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_evolve").toString + "/t"
    // generation 1: two columns
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(dir)
    // generation 2: the table grew a column — appended, not rewritten
    Seq((3L, "c", "en")).toDF("id", "name", "lang")
      .write.mode("append").parquet(dir)
    val merged = s.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq === Seq("id", "lang", "name"),
      "merged read must expose the union schema")
    val rows = merged.select(col("id"), col("lang"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows(1L).isEmpty && rows(2L).isEmpty,
      "generation-1 rows must read the new column as null")
    assert(rows(3L).contains("en"))
    // the default (no mergeSchema) samples one footer — the documented
    // reason evolving tables must opt in
    val sampled = s.read.parquet(dir)
    assert(sampled.columns.length <= 3)
  }
}
