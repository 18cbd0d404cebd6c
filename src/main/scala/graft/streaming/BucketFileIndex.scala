package graft.streaming

import org.apache.hadoop.fs.{FileStatus, Path => HPath}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** A FIXED file index over one version dir's selected buckets: the
  * files were listed on the driver before the scan was built, so
  * planning and execution never list again (Spark's own index lists
  * the whole dir, and above 32 paths does it as a job). `_bucket` is
  * the partition column, one [[PartitionDirectory]] per bucket; a
  * pushed `_bucket` predicate prunes those directories without any
  * file-system call. A case class, so two scans of the same files are
  * the same relation (exchange reuse, plan equality). */
private[streaming] final case class BucketFileIndex(root: HPath,
    buckets: Seq[(Long, Seq[FileStatus])]) extends FileIndex {

  override val partitionSchema: StructType =
    StructType(Seq(StructField("_bucket", LongType)))

  private def dirs: Seq[PartitionDirectory] = buckets.map { case (b, files) =>
    PartitionDirectory(InternalRow(b), files.map(FileStatusWithMetadata(_)))
  }

  override def rootPaths: Seq[HPath] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) dirs
    else {
      val keep = Predicate.createInterpreted(
        partitionFilters.reduce(And).transform {
          case a: AttributeReference if a.name.equalsIgnoreCase("_bucket") =>
            BoundReference(0, LongType, nullable = false)
        })
      dirs.filter(d => keep.eval(d.values))
    }

  override def inputFiles: Array[String] =
    buckets.flatMap(_._2.map(_.getPath.toString)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = buckets.map(_._2.map(_.getLen).sum).sum

  override def toString: String =
    s"BucketFileIndex($root, ${buckets.size} buckets, " +
      s"${buckets.map(_._2.size).sum} files)"
}
