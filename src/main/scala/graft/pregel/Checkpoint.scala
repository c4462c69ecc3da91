package graft.pregel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

/**
 * Superstep-state checkpointing with per-partition lineage + convergence
 * metrics, resumable mid-iteration (north rule; reference analog:
 * /root/reference/src/java/org/apache/hama/myhama/graph/
 * CheckPointManager.java:61-122 and the ARCHIVE/RECOVER command cycle in
 * bsp/JobInProgress.java:862-883).
 *
 * Storage goes through [[SnapshotStore]] (parquet default,
 * [[IcebergSnapshotStore]] when a catalog is configured). Layout
 * (snapshot-per-superstep):
 *   <dir>/<algo>/step=<t>/state/      vertex-state parquet snapshot
 *   <dir>/<algo>/step=<t>/meta.json   jobAgg + per-partition row counts
 *                                     + full superstep metrics history
 *
 * A save only writes: the caller keeps its in-memory, hash(vid, p)-laid
 * state. A re-read snapshot has the file-split layout of its parquet
 * files, so only the resume load ([[latest]]) is re-partitioned by the
 * kernel before it becomes state again.
 */
/** Where superstep snapshots live — the seam between the checkpoint
 * protocol (what to save when, resume ordering, metrics lineage) and the
 * storage format. The north rule names Iceberg for checkpoints; no catalog
 * ships in this sandbox, so [[ParquetSnapshotStore]] is the tested default
 * and [[IcebergSnapshotStore]] is the same contract one classpath away. */
trait SnapshotStore {
  /** Persist one superstep's vertex state under `ident` (replacing any
   * previous incomplete attempt); `complete(ident)` must be true after. */
  def write(state: DataFrame, ident: String): Unit
  def read(ident: String): DataFrame
  def complete(ident: String): Boolean
}

/** Snapshot-per-superstep directories of parquet (ident = a path). */
final class ParquetSnapshotStore(spark: SparkSession) extends SnapshotStore {
  def write(state: DataFrame, ident: String): Unit =
    state.write.mode("overwrite").parquet(ident)
  def read(ident: String): DataFrame = spark.read.parquet(ident)
  def complete(ident: String): Boolean =
    Files.exists(Paths.get(ident, "_SUCCESS"))
}

/** Iceberg tables via the DataFrameWriterV2 API (ident = a table name in
 * `catalog`). Requires an Iceberg catalog on the classpath + session
 * config (spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog);
 * none ships in this sandbox, so this impl is compile-checked only —
 * createOrReplace gives the same replace-then-atomically-commit semantics
 * the parquet impl gets from overwrite + _SUCCESS. */
final class IcebergSnapshotStore(spark: SparkSession, catalog: String) extends SnapshotStore {
  private def table(ident: String): String =
    catalog + "." + ident.replaceAll("[^A-Za-z0-9_.]", "_")
  def write(state: DataFrame, ident: String): Unit =
    state.writeTo(table(ident)).createOrReplace()
  def read(ident: String): DataFrame = spark.table(table(ident))
  def complete(ident: String): Boolean = spark.catalog.tableExists(table(ident))
}

final class Checkpoint(spark: SparkSession, dir: String, algo: String,
                       store: SnapshotStore) {
  def this(spark: SparkSession, dir: String, algo: String) =
    this(spark, dir, algo, new ParquetSnapshotStore(spark))

  private def stepDir(t: Int): String = s"$dir/$algo/step=$t"

  /** Write snapshot + metadata. */
  def save(state: DataFrame, t: Int, jobAgg: Double, history: Seq[SuperstepMetrics]): Unit = {
    val sd = stepDir(t)
    store.write(state, s"$sd/state")
    val parts = state.groupBy(spark_partition_id().as("pid")).count()
      .collect().map(r => s"""{"pid":${r.getInt(0)},"rows":${r.getLong(1)}}""")
    val hist = history.map(m =>
      s"""{"superstep":${m.superstep},"style":"${m.style}","respond":${m.respondCount},""" +
        s""""estMsgs":${m.estMsgs},"jobAgg":${m.jobAgg},"q":${m.q},""" +
        s""""activeBlocks":${m.activeBlocks},"numBlocks":${m.numBlocks},""" +
        s""""wallMs":${m.wallMs},"checkpointed":${m.checkpointed},"delta":${m.delta}}""")
    val json =
      s"""{"algo":"$algo","superstep":$t,"jobAgg":$jobAgg,
         |"partitions":[${parts.mkString(",")}],
         |"metrics":[${hist.mkString(",")}]}""".stripMargin
    Files.createDirectories(Paths.get(sd))
    Files.writeString(Paths.get(s"$sd/meta.json"), json)
  }

  /** Most recent complete snapshot: (superstep, state, jobAgg, metrics
   * lineage up to the snapshot) — the history rides along so a resumed
   * run's next archive carries a CONTINUOUS convergence-metrics lineage
   * from superstep 1, matching the reference's recovered-job reports. */
  def latest(): Option[(Int, DataFrame, Double, Seq[SuperstepMetrics])] = {
    val base = Paths.get(s"$dir/$algo")
    if (!Files.isDirectory(base)) return None
    val steps = Files.list(base).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("step=") && complete(p))
      .map(p => p.getFileName.toString.stripPrefix("step=").toInt)
      .toSeq.sorted
    steps.lastOption.map { t =>
      val meta = Files.readString(Paths.get(s"${stepDir(t)}/meta.json"))
      val jobAgg = """"jobAgg":([-0-9.eE]+)""".r.findFirstMatchIn(meta)
        .map(_.group(1).toDouble).getOrElse(0.0)
      (t, store.read(s"${stepDir(t)}/state"), jobAgg, parseHistory(meta))
    }
  }

  private val histRe =
    ("""\{"superstep":(\d+),"style":"([a-z_]+)","respond":(\d+),"estMsgs":(\d+),""" +
      """"jobAgg":([-0-9.eE]+),"q":([-0-9.eE]+),"activeBlocks":(\d+),"numBlocks":(\d+),""" +
      """"wallMs":(\d+),"checkpointed":(true|false),"delta":(true|false)\}""").r

  private def parseHistory(meta: String): Seq[SuperstepMetrics] =
    histRe.findAllMatchIn(meta).map(m => SuperstepMetrics(
      m.group(1).toInt, m.group(2), m.group(3).toLong, m.group(4).toLong,
      m.group(5).toDouble, m.group(6).toDouble, m.group(7).toInt, m.group(8).toInt,
      m.group(9).toLong, m.group(10).toBoolean, m.group(11).toBoolean)).toSeq

  private def complete(p: Path): Boolean =
    store.complete(p.resolve("state").toString) && Files.exists(p.resolve("meta.json"))
}
