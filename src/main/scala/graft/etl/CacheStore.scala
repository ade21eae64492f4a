package graft.etl

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistent connector caches as checkpointed Parquet tables (SURVEY.md
  * B22).
  *
  * The reference keeps three JSON caches in process memory and writes
  * them back wholesale on shutdown (springer_compact_coverage.py:26-48
  * cache globals, 51-74 `_shutdown` write-back); a crash mid-run loses
  * every lookup performed. The engine equivalent is an UPSERT into a
  * Parquet table with a write-then-swap checkpoint: new/changed rows win
  * over existing rows by key, the merged table is written to a fresh
  * generation directory, and a marker file flips readers to it only
  * after the write fully succeeds — a killed job leaves the previous
  * generation intact (the crash-safety the reference lacks).
  *
  * At 100 TB-pipeline scale these caches stay small (≤ millions of rows
  * — journal × year, doi → year), so a full-table rewrite per refresh is
  * the right trade: single-writer connector jobs, atomic flip, zero read
  * amplification. A cache that outgrew that would move to partitioned
  * generations with the same marker protocol, not to in-place mutation.
  */
object CacheStore {

  private val Marker = "_CURRENT"

  private def currentGen(root: Path): Option[String] = {
    val m = root.resolve(Marker)
    if (Files.exists(m)) Some(Files.readString(m).trim) else None
  }

  /** Read the current generation, or None if the cache has never been
    * written.
    */
  def read(spark: SparkSession, dir: String): Option[DataFrame] = {
    val root = Paths.get(dir)
    currentGen(root).map(g => spark.read.parquet(root.resolve(g).toString))
  }

  /** The update-wins merge at the heart of [[upsert]] — the reference's
    * `CACHE[id] = value` dict semantics (:131-132, :205) as a dataflow:
    * an update row replaces the existing row with its key, existing rows
    * without an update survive. Anti-join instead of union+dedup: no
    * tie-break column needed, and the existing side prunes to key columns
    * for the join. Exposed separately so the b22 oracle query gates
    * exactly the merge the cache performs.
    */
  def merge(existing: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "merge needs at least one key column")
    existing.join(updates.select(keys.map(updates(_)): _*), keys, "left_anti")
      .unionByName(updates)
  }

  /** Upsert `updates` into the cache at `dir` by `keys` ([[merge]]
    * semantics), making the merged table the new current generation via
    * write-then-swap. Returns the merged frame as re-read from the new
    * generation (what every subsequent reader sees).
    */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    val root = Paths.get(dir)
    Files.createDirectories(root)
    val merged = read(spark, dir) match {
      case Some(existing) => merge(existing, updates, keys)
      case None => updates
    }
    val gen = s"gen-${System.nanoTime()}-${ProcessHandle.current().pid()}"
    merged.write.mode("overwrite").parquet(root.resolve(gen).toString)
    // the marker flip is the commit point: write the new name to a temp
    // file and ATOMIC_MOVE it over the marker, so a reader never sees a
    // torn marker and a crash before this line leaves the old generation
    // current
    val tmp = root.resolve(s"$Marker.tmp-${ProcessHandle.current().pid()}")
    Files.writeString(tmp, gen)
    Files.move(tmp, root.resolve(Marker), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    spark.read.parquet(root.resolve(gen).toString)
  }

  /** Drop all generations except the current one (a refresh job's
    * housekeeping tail — old generations exist only so in-flight readers
    * finish; nothing references them after).
    */
  def vacuum(dir: String): Unit = {
    val root = Paths.get(dir)
    currentGen(root).foreach { keep =>
      val stream = Files.list(root)
      try stream.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("gen-") && n != keep) {
          val walk = Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(f => { Files.delete(f); () })
          finally walk.close()
        }
      } finally stream.close()
    }
  }
}
