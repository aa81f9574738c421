package graft.operators

import graft.operators.Index.{DictEntry, PostingSegment}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.unsafe.types.UTF8String

/** The postings fetch of a segment-cache miss, planned once per engine
  * instead of once per load. At construction, per index dir:
  *   - the row RDD of the [[PostingSegment]] projection over that dir's
  *     postings frame (the engine's persisted relation, not a copy);
  *   - which of its partitions hold which df bucket, read from the file
  *     partitions of the scan under it (no job);
  * and one encoder resolved against the projection's output. A fetch is
  * then one `runJob` over the partitions of the wanted terms' buckets
  * only: each task keeps the rows of the wanted terms, the driver decodes
  * them. No analysis, planning or code generation happens per fetch.
  *
  * Cost model: a fetch scans its buckets' partitions whole. Against a
  * cached relation that forgoes the in-memory batch-stat pruning a
  * `term IN (...)` filter gets, and against parquet the row-group
  * pushdown; both pay off only when one bucket's partition holds many
  * batches or row groups. Over SQL it saves the per-query plan and every
  * other bucket's tasks (one task per partition in the cached relation,
  * whose partition directories are not pruned).
  *
  * The row RDD reads the cache entry that was live at construction. If
  * that entry is dropped while the engine is open (say by
  * `spark.catalog.clearCache()`), a fetch re-reads the parquet files of
  * its buckets' partitions only, and does not pick up a later re-cache. */
private[graft] final class SegmentFetch(postings: Seq[DataFrame]) {
  private val projections = postings.map(Index.segmentColumns)
  require(projections.map(_.schema).distinct.size == 1,
    "every index dir must share one postings schema")
  private val dirRdds = projections.map(_.queryExecution.toRdd)
  private val rows: RDD[InternalRow] =
    if (dirRdds.size == 1) dirRdds.head else dirRdds.head.sparkContext.union(dirRdds)
  /** First partition id in [[rows]] of each dir. */
  private val offsets = dirRdds.scanLeft(0)(_ + _.getNumPartitions)
  private val encoder = encoderFor(Encoders.product[PostingSegment])
    .resolveAndBind(projections.head.queryExecution.analyzed.output)

  /** Per dir, bucket → its partition ids in [[rows]]. A plan whose
    * partitions cannot be mapped to buckets fails the engine's open, so a
    * change of plan shape shows up at once instead of as full scans. */
  private[graft] val bucketParts: Seq[Map[Int, Array[Int]]] =
    projections.zip(dirRdds).zip(offsets).map { case ((p, rdd), off) =>
      val bs = SegmentFetch.partitionBuckets(p.queryExecution.executedPlan)
      require(bs.length == rdd.getNumPartitions,
        s"postings plan has ${rdd.getNumPartitions} partitions, " +
          s"bucket values for ${bs.length}:\n${p.queryExecution.executedPlan}")
      bs.indices.flatMap(i => bs(i).map(_ -> (off + i)))
        .groupBy(_._1).map { case (b, ps) => b -> ps.map(_._2).toArray }
    }

  /** Partitions of all dirs, in [[rows]] ids. */
  private[graft] def numPartitions: Int = offsets.last

  /** The partitions of [[rows]] a fetch of `perDir`'s entries scans. */
  private[graft] def partitionsFor(perDir: Seq[Seq[DictEntry]]): Seq[Int] =
    perDir.zip(bucketParts).flatMap { case (es, m) =>
      es.map(_.bucket).distinct.flatMap(b => m.getOrElse(b, Array.empty[Int]))
    }.distinct.sorted

  /** Every segment of the terms of `perDir` (dictionary entries per index
    * dir, in the engine's dir order), in no particular order. One Spark
    * job; none when there is nothing to fetch. */
  def apply(perDir: Seq[Seq[DictEntry]]): Array[PostingSegment] = {
    val parts = partitionsFor(perDir)
    if (parts.isEmpty) return Array.empty
    // a term's segments in a dir all sit in its bucket there, and each
    // dir's partitions of every wanted bucket are scanned: filtering the
    // scanned rows by term alone is exact
    val want = perDir.flatten.map(_.term).distinct.toArray
    val hits = rows.sparkContext.runJob(rows,
      (it: Iterator[InternalRow]) => SegmentFetch.rowsOf(want, it), parts)
    val de = encoder.createDeserializer()
    hits.flatMap(_.map(de))
  }
}

private[graft] object SegmentFetch {
  /** Copies of the rows of `it` whose first column is one of `terms`. */
  private def rowsOf(terms: Array[String], it: Iterator[InternalRow]): Array[InternalRow] = {
    val want = terms.iterator.map(UTF8String.fromString).toSet
    it.filter(r => want.contains(r.getUTF8String(0))).map(_.copy()).toArray
  }

  /** The buckets of each partition of the file scan under `plan` (through
    * a cached relation's own plan), from the partition values of its
    * files; empty when no such scan is found. A partition that is not a
    * file partition is left out, so the caller's partition-count check
    * rejects the result. */
  private def partitionBuckets(plan: SparkPlan): Array[Set[Int]] =
    plan.collectFirst {
      case s: FileSourceScanExec =>
        val schema = s.relation.partitionSchema
        val i = schema.fieldIndex("bucket")
        val t = schema(i).dataType
        s.inputRDD.partitions.collect {
          case fp: FilePartition => fp.files.map(_.partitionValues.get(i, t).toString.toInt).toSet
        }
      case m: InMemoryTableScanExec => partitionBuckets(m.relation.cachedPlan)
    }.getOrElse(Array.empty)
}
