package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, InMemoryFileIndex, LogicalRelation,
  PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A parquet relation over a directory whose files are PRODUCED by a
  * deferred build step — the "lazy dir resolution inside a plan node"
  * shape (VERDICT r17 #2). `spark.read.parquet(dir)` lists the
  * directory (and therefore needs its files to exist) at DataFrame
  * CONSTRUCTION time, which is why the s51/s52 persisted-index gates
  * used to execute a full Spark index build inside every plan-only
  * sweep (PlanCheck): constructing the query forced the build.
  * Here the relation is assembled directly from its parts — the known
  * data schema plus a [[LazyBuildFileIndex]] — so analysis,
  * optimization, physical planning, and `.explain` never touch the
  * filesystem; the build thunk runs on the FIRST FILE LISTING, which
  * Spark performs when an action materializes the scan
  * (`FileSourceScanExec.selectedPartitions`, forced from `inputRDD`
  * inside `doExecute`). At 100 TB this is also the honest contract:
  * planning a serve query must not rebuild (or even stat) the index.
  */
object LazyBuildParquet {

  /** Plan-only construction: nothing here lists `dir` or runs
    * `ensureBuilt`. `schema` must be the exact read schema of the
    * files the build writes (callers pass the build frame's own
    * `.schema.asNullable` — `asNullable` because a plain
    * `spark.read.parquet` infers every parquet column nullable, and
    * the swap must not tighten what downstream plans see).
    */
  def frame(spark: SparkSession, dir: String, schema: StructType,
            ensureBuilt: () => Unit): DataFrame =
    GraftSqlBridge.ofRows(spark,
      LogicalRelation(
        HadoopFsRelation(
          new LazyBuildFileIndex(spark, dir, ensureBuilt),
          partitionSchema = new StructType(),
          dataSchema = schema,
          bucketSpec = None,
          fileFormat = new ParquetFileFormat,
          options = Map.empty)(spark),
        isStreaming = false))
}

/** [[FileIndex]] that runs a build thunk before the first real
  * listing, then delegates to a plain [[InMemoryFileIndex]] over the
  * directory. Everything a PLAN needs (`rootPaths`,
  * `partitionSchema`, `sizeInBytes`) answers without touching disk;
  * everything an EXECUTION needs (`listFiles`, `inputFiles`) forces
  * the build first.
  *
  * `sizeInBytes` is a large constant, deliberately: returning the
  * real on-disk size would force the build whenever the optimizer
  * consults stats, and "large" is the correct 100 TB posture anyway —
  * a corpus-sized index must never be auto-broadcast, and every join
  * that touches these frames carries an explicit `broadcast()` hint
  * on its small side, so the constant never changes a join choice.
  */
private[graft] final class LazyBuildFileIndex(
    spark: SparkSession, dir: String, ensureBuilt: () => Unit)
  extends FileIndex {

  private lazy val delegate: InMemoryFileIndex = {
    ensureBuilt()
    new InMemoryFileIndex(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      Seq(new Path(dir)), Map.empty[String, String], None)
  }

  override def rootPaths: Seq[Path] = Seq(new Path(dir))
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] =
    delegate.listFiles(partitionFilters, dataFilters)
  override def inputFiles: Array[String] = delegate.inputFiles
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = Long.MaxValue >> 2
  override def partitionSchema: StructType = new StructType()
}
