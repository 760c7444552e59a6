package org.apache.spark.sql.graftbridge

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A parquet scan over files the caller has already listed. The public
  * reader (`spark.read.parquet(dirs)`) lists every directory again, with a
  * parallel Spark job once there are more than
  * `parallelPartitionDiscovery.threshold` of them; the file index and the
  * relation that skip that listing are `sql`-internal, so they are built
  * here.
  */
object ListedParquet {

  /** Scan `files` (leaf directory → its data files) under `basePath`, with
    * `schema` (data columns plus the partition columns named by the
    * `key=value` directories between `basePath` and each leaf). The file
    * index takes its listing from a [[FileStatusCache]] seeded with `files`,
    * so building the frame lists nothing. A refresh of the index drops the
    * seeded listing, and Spark then lists the directories itself.
    */
  def apply(spark: SparkSession, basePath: Path, files: Seq[(Path, Seq[FileStatus])],
            schema: StructType): DataFrame =
    scan(spark, files, schema, Map("basePath" -> basePath.toString), None)

  /** Scan `files` as plain data files with `schema`: their directories name
    * no partition columns, so files of unrelated directories share one scan.
    */
  def files(spark: SparkSession, files: Seq[FileStatus], schema: StructType): DataFrame =
    scan(spark, files.groupBy(_.getPath.getParent).toSeq, schema, Map.empty,
      Some(PartitionSpec.emptySpec))

  private def scan(spark: SparkSession, files: Seq[(Path, Seq[FileStatus])], schema: StructType,
                   options: Map[String, String], partitions: Option[PartitionSpec]): DataFrame = {
    val index = new InMemoryFileIndex(spark, files.map(_._1), options, Some(schema),
      new ListingCache(files), partitions)
    val partitionSchema = index.partitionSchema
    val dataSchema = StructType(schema.filterNot(f => partitionSchema.fieldNames.contains(f.name)))
    val relation = HadoopFsRelation(index, partitionSchema, dataSchema.asNullable,
      bucketSpec = None, new ParquetFileFormat, options)(spark)
    spark.baseRelationToDataFrame(relation)
  }

  private final class ListingCache(files: Seq[(Path, Seq[FileStatus])]) extends FileStatusCache {
    private val leafFiles = new ConcurrentHashMap[Path, Array[FileStatus]]
    files.foreach { case (dir, fs) => leafFiles.put(dir, fs.toArray) }
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] = Option(leafFiles.get(path))
    override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = leafFiles.put(path, files)
    override def invalidateAll(): Unit = leafFiles.clear()
  }
}
