package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Manifest-backed [[FileIndex]] for the versioned TableStore layout.
  *
  * A partitioned table version references several immutable data dirs, each
  * hive-partitioned internally (`data-xxx/is_current=true/part-*.parquet`).
  * Spark's built-in partition discovery wants ONE root per scan — sibling
  * partitioned roots in a multi-path read throw "Conflicting directory
  * structures", which previously forced one scan per data dir unioned by
  * name. That shape is correct (filters push into every branch) but plans
  * O(dirs) scans: a year of daily appends is a 365-way union.
  *
  * This index hands Catalyst the manifest's file list directly: ONE scan
  * node over all data dirs, partition values parsed from the hive-style
  * subdirectories and typed from the manifest's RECORDED `#p` column types
  * (no inference — inference has no boolean and would misread
  * `is_current=true`). Partition pruning is implemented exactly like
  * Spark's `PartitioningAwareFileIndex.prunePartitions`: bind the pushed
  * partition filters to the partition schema and filter the in-memory
  * partition list, so a pruned query never even lists the dead files'
  * splits.
  *
  * Unpartitioned versions use the same index with an empty partition
  * schema, so listing stays a driver-side walk however many dirs a version
  * holds (a multi-path `spark.read.parquet` lists more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths with a
  * Spark job).
  */
class ManifestFileIndex(spark: SparkSession, dataDirs: Seq[Path],
                        override val partitionSchema: StructType)
    extends FileIndex {

  private val hadoopConf = spark.sparkContext.hadoopConfiguration
  private val zoneId = spark.sessionState.conf.sessionLocalTimeZone

  /** (partition values, files) groups, listed once at construction — the
    * manifest's data dirs are immutable, so there is nothing to refresh. */
  private val partitions: Seq[PartitionDirectory] = {
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], scala.collection.mutable.ArrayBuffer[FileStatus]]
    dataDirs.foreach { dir =>
      val fs = dir.getFileSystem(hadoopConf)
      def walk(p: Path, values: Map[String, String]): Unit =
        fs.listStatus(p).foreach { st =>
          val name = st.getPath.getName
          if (!name.startsWith("_") && !name.startsWith(".")) {
            if (st.isDirectory) {
              val kv = name.split("=", 2)
              walk(st.getPath,
                if (kv.length == 2) values + (kv(0) -> kv(1)) else values)
            } else if (st.getLen > 0) {
              val row = partitionSchema.fields.map { f =>
                values.get(f.name).map(castPartitionValue(_, f.dataType)).orNull
              }.toSeq
              groups.getOrElseUpdate(
                row, scala.collection.mutable.ArrayBuffer.empty) += st
            }
          }
        }
      walk(dir, Map.empty)
    }
    groups.map { case (values, files) =>
      PartitionDirectory(InternalRow.fromSeq(values), files.toArray)
    }.toSeq
  }

  /** Hive path fragment → typed catalyst value (manifest-declared type). */
  private def castPartitionValue(raw: String, dt: DataType): Any = {
    val unescaped = ExternalCatalogUtils.unescapePathName(raw)
    if (unescaped == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
    else Cast(Literal(unescaped), dt, Option(zoneId)).eval(InternalRow.empty)
  }

  override def rootPaths: Seq[Path] = dataDirs

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) partitions
    else {
      // same binding as PartitioningAwareFileIndex.prunePartitions
      val bound = Predicate.createInterpreted(
        partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.indexWhere(_.name == a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
      partitions.filter(p => bound.eval(p.values))
    }

  override def inputFiles: Array[String] =
    partitions.flatMap(_.files.map(_.getPath.toString)).toArray

  override def refresh(): Unit = () // manifest data dirs are immutable

  override def sizeInBytes: Long =
    partitions.flatMap(_.files.map(_.getLen)).sum
}

/** Public entry: a single-scan DataFrame over a manifest's data dirs, and
  * the data schema a commit records in the manifest. */
object ManifestRead {

  /** Read `dirs` as ONE parquet scan. `partitionCols` are the
    * manifest-recorded (name, type) pairs, in layout order (empty for an
    * unpartitioned table); they surface LAST in the schema, as with any
    * partitioned parquet read. `dataSchema` is the manifest-recorded data
    * schema ([[commitSchema]]): no parquet footer is opened at plan time,
    * so building the read launches no Spark job. Files lacking a column of
    * `dataSchema` (written before an append widened the table) read it as
    * NULL. */
  def read(spark: SparkSession, dirs: Seq[String],
           partitionCols: Seq[(String, DataType)],
           dataSchema: StructType): DataFrame = {
    val partitionSchema = StructType(partitionCols.map {
      case (n, t) => StructField(n, t)
    })
    val index = new ManifestFileIndex(spark, dirs.map(new Path(_)), partitionSchema)
    val relation = HadoopFsRelation(index, partitionSchema, dataSchema,
      bucketSpec = None, new ParquetFileFormat, Map.empty)(spark)
    spark.baseRelationToDataFrame(relation)
  }

  /** The data schema a commit of `df` records: its columns minus
    * `partitionCols`, all nullable (as parquet reads them back). An append
    * passes the `previous` version's recorded schema, and the batch merges
    * onto it with the `StructType.merge` footer merging uses: a new column
    * widens the table (older rows read NULL), an incompatible type fails
    * the commit. */
  def commitSchema(df: DataFrame, partitionCols: Seq[String],
                   previous: Option[StructType]): StructType = {
    val batch = StructType(df.schema.filterNot(f => partitionCols.contains(f.name)))
      .asNullable
    previous.fold(batch)(_.merge(batch))
  }
}
