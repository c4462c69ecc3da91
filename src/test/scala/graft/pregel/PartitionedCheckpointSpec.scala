package graft.pregel

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.graftx.PartitionedCheckpoint
import org.scalatest.funsuite.AnyFunSuite

/** The partition-stamped checkpoint (r6): a lineage-free LogicalRDD that
 * KEEPS its hash partitioning, so superstep joins stay exchange-free. The
 * plain localCheckpoint loses it under AQE (UnknownPartitioning) and can
 * bind it to an alias of the key column — both cost a full state exchange
 * per superstep. */
class PartitionedCheckpointSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true") // the regime that loses partitioning
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("stamp survives AQE, binds the requested key, and keeps rows") {
    val df = spark.range(1000)
      .select(col("id").as("vid"), (col("id") % 7).as("x"), col("id").as("label"))
      .repartition(4, col("vid"))
    val ck = PartitionedCheckpoint.localCheckpointHashed(df, Seq("vid"), 4)
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        lr.outputPartitioning match {
          case HashPartitioning(exprs, n) =>
            assert(n == 4)
            val names = exprs.map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Attribute].name)
            assert(names == Seq("vid"), s"bound to $names, not the requested key")
          case other => fail(s"expected HashPartitioning, got $other")
        }
      case other => fail(s"expected LogicalRDD, got ${other.getClass}")
    }
    // rows are byte-identical to the unstamped data
    assert(ck.orderBy("vid").collect().map(_.getLong(0)).toSeq == (0L until 1000L))
  }

  test("two stamped relations join without any Exchange") {
    val a = PartitionedCheckpoint.localCheckpointHashed(
      spark.range(500).select(col("id").as("vid"), lit(1).as("a")).repartition(4, col("vid")),
      Seq("vid"), 4)
    val b = PartitionedCheckpoint.localCheckpointHashed(
      spark.range(500).select(col("id").as("vid"), lit(2).as("b")).repartition(4, col("vid")),
      Seq("vid"), 4)
    val j = a.join(b.hint("shuffle_hash"), Seq("vid"))
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"stamped join still exchanges:\n$plan")
    assert(j.count() == 500)
  }

  test("the stamped relation keeps the plain checkpoint's size statistics") {
    // join sizing reads them: without them a stamped relation would plan as
    // spark.sql.defaultSizeInBytes and never broadcast
    val df = spark.range(1000).select(col("id").as("vid")).repartition(4, col("vid"))
    val size = PartitionedCheckpoint.localCheckpointHashed(df, Seq("vid"), 4)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size == df.localCheckpoint().queryExecution.optimizedPlan.stats.sizeInBytes)
    assert(size < BigInt(org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes), s"size $size")
  }

  test("missing key column falls back to the plain checkpoint") {
    val df = spark.range(10).select(col("id").as("vid"))
    val ck = PartitionedCheckpoint.localCheckpointHashed(df, Seq("nope"), 4)
    assert(ck.count() == 10)
  }

  test("stamping a width other than the relation's partition count fails loudly") {
    val df = spark.range(100).select(col("id").as("vid")).repartition(3, col("vid"))
    val ex = intercept[IllegalStateException](PartitionedCheckpoint.localCheckpointHashed(df, Seq("vid"), 9))
    assert(ex.getMessage.contains("3 partitions"), ex.getMessage)
  }

  test("kernel superstep results are identical with stamping active (CC golden)") {
    // end-to-end: the stamp claims layouts — a false claim would mis-join
    // and change labels; compare against the plain reference iterate
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L))
    val vids = (0L to 5L)
    val vdf = spark.createDataFrame(vids.map(Tuple1(_))).toDF("vid")
    val edf = spark.createDataFrame(edges).toDF("src", "dst")
    val res = graft.algos.ConnectedComponents.labels(
      new Pregel(spark, PregelConfig(numPartitions = 4)), vdf, edf, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
  }
}
