package graft.ingest

import scala.collection.mutable
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** The file index of one [[ChainStore]] table at one manifest version:
  * the files, sizes and buckets come from the manifest, so resolving a
  * frame over it lists nothing and runs no Spark job, at any bucket
  * count. Spark's own partition pruning runs over it unchanged: a
  * `bucket` predicate selects `bucket=<n>` directories, as it does
  * over a listed table. `bucket` is an integer column, the type
  * partition discovery infers for these directory names. */
private[ingest] final class ManifestFileIndex(spark: SparkSession, tableRoot: Path,
                                              files: Seq[(Long, FileStatus)])
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  private lazy val byBucket: Seq[(Long, Path, Array[FileStatus])] =
    files.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, fs) =>
      (b, new Path(tableRoot, s"bucket=$b"), fs.map(_._2).toArray)
    }

  private lazy val spec = PartitionSpec(
    StructType(Seq(StructField("bucket", IntegerType))),
    byBucket.map { case (b, dir, _) => PartitionPath(InternalRow(b.toInt), dir) })

  override def partitionSpec(): PartitionSpec = spec

  override lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    byBucket.map { case (_, dir, fs) => dir -> fs }.toMap

  override lazy val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(files.map { case (_, s) => s.getPath -> s }: _*)

  override def rootPaths: Seq[Path] = Seq(tableRoot)

  override def refresh(): Unit = ()
}
