package graft.streaming

import graft.operators.{Index, QueryEngine}
import graft.operators.Index.BuildParams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Structured-Streaming ingestion into the inverted index, LSM-style:
  * every micro-batch of new documents becomes one self-contained delta
  * index (same resumable stage pipeline as the batch build), and queries
  * run over base+deltas through the multi-directory [[QueryEngine]] with
  * exactly-combined global statistics.
  *
  * This upgrades the reference's rebuild-from-zero ingestion — crawler
  * mode DELETES the existing database file on startup (reference
  * `src/database/database.cpp:16-24`) — into continuous index
  * maintenance without ever rewriting existing postings.
  *
  * Fault tolerance: foreachBatch is at-least-once, but
  * [[Index.buildFrom]] is idempotent per delta directory (per-stage
  * `_done_*` markers — a replayed batch resumes/no-ops), so the
  * composition is effectively exactly-once. A delta is visible to
  * [[deltaDirs]] only once its final stage marker exists, so readers
  * never observe a half-built delta.
  *
  * Scale notes: one delta per micro-batch keeps ingestion latency
  * decoupled from corpus size (no read-modify-write of the base index).
  * Query-side cost grows with the number of live deltas (one pruned
  * scan each), so at 10^12-file scale you periodically compact: rebuild
  * one merged index from N deltas' doc ranges (the batch builder over
  * their union) and swap — the same operation as the initial build.
  *
  * Precondition (asserted by QueryEngine at load): micro-batches carry
  * pairwise-disjoint docID ranges — natural for append-style ingestion
  * where docID is a monotone ingest sequence number. */
object IncrementalIndex {

  def deltaDir(baseDir: String, batchId: Long): String =
    f"$baseDir/delta_$batchId%05d"

  /** Start ingesting a STREAMING docs DataFrame (input_hint shape +
    * docID). Processes everything available, one delta index per
    * micro-batch, then stops (Trigger.AvailableNow — swap for a
    * continuous trigger in an always-on service). */
  def ingest(docs: DataFrame, baseDir: String,
             p: BuildParams = BuildParams()): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", s"$baseDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          Index.buildFrom(batch.sparkSession, batch, deltaDir(baseDir, batchId), p)
      }
      .start()

  def tombstoneDir(baseDir: String): String = s"$baseDir/tombstones"

  /** Record deletions as TOMBSTONES: append the docIDs to the base's
    * tombstone table. O(deletes) — no posting is touched; queries
    * exclude tombstoned docs through [[denyFacet]] and compaction drops
    * their postings (and their contribution to df/avgdl) for real —
    * Lucene-style deleted-docs semantics. Idempotent: only ids not yet
    * tombstoned are appended, and nothing is written when none is new,
    * so replaying a delete batch leaves the table as it was. */
  def delete(docIDs: DataFrame, baseDir: String): Unit = {
    val ids = docIDs.select(org.apache.spark.sql.functions.col("docID")
      .cast("long").as("docID")).distinct()
    val fresh = tombstones(docIDs.sparkSession, baseDir)
      .fold(ids)(old => ids.join(old, Seq("docID"), "left_anti"))
    if (!fresh.isEmpty)
      fresh.write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(tombstoneDir(baseDir))
  }

  /** The live tombstone set (None if nothing was ever deleted). */
  def tombstones(spark: SparkSession, baseDir: String): Option[DataFrame] =
    if (Files.isDirectory(Paths.get(tombstoneDir(baseDir))))
      Some(spark.read.parquet(tombstoneDir(baseDir)).distinct())
    else None

  /** Deny [[QueryEngine.Facet]] over the live tombstones — pass to
    * `topKFiltered` to query with deletes applied.
    * None when the index has no tombstones (query unfiltered). */
  def denyFacet(spark: SparkSession, baseDir: String,
                engine: QueryEngine): Option[engine.Facet] =
    tombstones(spark, baseDir).map(engine.prepareDeny)

  /** All COMPLETE delta indexes under baseDir, in batch order. */
  def deltaDirs(baseDir: String): Seq[String] = {
    val base = Paths.get(baseDir)
    if (!Files.isDirectory(base)) return Nil
    Files.list(base).iterator().asScala
      .filter(d => d.getFileName.toString.startsWith("delta_") &&
        Files.exists(d.resolve("_done_postings")))
      .map(_.toString).toSeq.sorted
  }

  /** Query engine over every complete delta (plus an optional base
    * index built by the batch pipeline). */
  def engine(spark: SparkSession, baseDir: String,
             baseIndex: Option[String] = None): QueryEngine =
    new QueryEngine(spark, baseIndex.toSeq ++ deltaDirs(baseDir))

  /** Compact N constituent indexes into one: union their stage-1 tf
    * tables (docID ranges are disjoint, so the union IS the combined tf
    * — no re-tokenization of content), then run stages 2-4. Result is
    * byte-equivalent in meaning to a one-shot build over the combined
    * corpus: same stats, same dictionary, same postings semantics —
    * asserted rank-identical in StreamingSpec. Callers swap the old
    * dirs for `outDir` once `deltaDirs`-style completion (the
    * `_done_postings` marker) appears. */
  def compact(spark: SparkSession, dirs: Seq[String], outDir: String,
              p: Index.BuildParams = Index.BuildParams(),
              // tombstoned docIDs to DROP: their tf rows never enter the
              // compacted tf, so stages 2-4 recompute df/avgdl/N over
              // the survivors — deletes become real here
              tombstoned: Option[DataFrame] = None): Unit = {
    require(dirs.nonEmpty)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // version-stamp BEFORE writing the tf marker: ensureFormat wipes
    // markers on a version mismatch, so it must not run after them
    Index.ensureFormat(outDir)
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$outDir/_done_tf"))) {
      val unioned = dirs.map(d => spark.read.parquet(s"$d/tf"))
        .reduce(_ unionByName _)
      tombstoned.map { t =>
        // broadcast anti-join: the deny set is gate-cap bounded (small
        // by compaction policy), the tf table is corpus-sized
        unioned.join(
          org.apache.spark.sql.functions.broadcast(
            t.select(org.apache.spark.sql.functions.col("docID")
              .cast("long").as("docID")).distinct()),
          Seq("docID"), "left_anti")
      }.getOrElse(unioned)
        .repartition(p.partitions)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$outDir/tf")
      // keyword doc-values union rides the same disjoint-docID argument
      // as tf (and the same tombstone anti-join); written through the
      // shared field-partitioned writer so compacted indexes keep the
      // per-field layout
      val dv = dirs.map(d => spark.read.parquet(s"$d/docvals"))
        .reduce(_ unionByName _)
      val dvOut = tombstoned.map { t =>
        dv.join(
          org.apache.spark.sql.functions.broadcast(
            t.select(org.apache.spark.sql.functions.col("docID")
              .cast("long").as("docID")).distinct()),
          Seq("docID"), "left_anti")
      }.getOrElse(dv)
      Index.writeDocVals(dvOut, outDir, p.partitions)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/_done_tf"), Array.emptyByteArray)
    }
    Index.buildFromTf(spark, outDir, p)
  }
}
