package graft

import org.apache.spark.sql.functions._

import graft.observe.{ArtifactSpec, Decomp, IndexStore}

/** Two-process IndexStore race child (`RaceRun <srcDir> <name> <id>
  * <barrierDir>` — normally spawned in PAIRS by IndexStoreSpec):
  * each process reads the SAME ad-hoc artifact spec +
  * source + store, and its build thunk holds at a FILE BARRIER until
  * the sibling's marker appears — so both processes are provably
  * inside the build window together (both saw no published artifact),
  * and the publish step is a genuine cross-process rename race, not
  * the single-JVM reentrant simulation. Prints `[race] built sum=N`
  * when its own thunk ran and `[race] served sum=N` for the value it
  * ultimately serves; the parent asserts both built, both served the
  * same value, and exactly one head was published with no staging
  * debris. */
object RaceRun {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: RaceRun <srcDir> <name> <id> <barrierDir>")
    val (src, name, id, barrier) = (args(0), args(1), args(2), args(3))
    val spark = Session(cores = Some(2))
    val spec = ArtifactSpec(name, 1, "", Decomp.Full { (_, _) =>
      // barrier: publish own in-build marker, wait for the sibling's —
      // both processes are now PAST the no-published-artifact check
      val dir = java.nio.file.Paths.get(barrier)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve(s"b-$id"), "in-build")
      // close each directory stream (Files.list holds an fd until
      // closed — a 50 ms poll for up to 60 s would otherwise leak
      // ~1200 descriptors into a JVM that also runs Spark)
      def markers(): Long = {
        val st = java.nio.file.Files.list(dir)
        try st.count() finally st.close()
      }
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (markers() < 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      require(markers() >= 2, "sibling never reached the build window")
      val out = spark.read.parquet(src).agg(sum(col("x")).as("s"))
      println(s"[race] built sum=${out.head().getLong(0)}")
      out
    })
    val res = IndexStore.read(spark, spec, src)
    println(s"[race] served sum=${res.head().getLong(0)}")
    spark.stop()
  }
}
