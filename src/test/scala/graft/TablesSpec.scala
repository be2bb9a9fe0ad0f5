package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.operators.{EventsOps, Pipeline}
import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{BinaryType, StringType}

/** `Tables.parquet`: a warm read starts no job, and its memoized schema
  * follows the table's files and the session's inference confs. Reads of a
  * file graft has just written take the writer's schema, which must equal
  * the inferred one. */
class TablesSpec extends SparkSpec {

  private def inferences(body: => Any): Int = Jobs.during(spark)(body).count(Jobs.isSchemaInference)

  private def partFile(dir: Path): Path =
    Files.list(dir).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get

  test("a warm read starts no job; a plain inferred read starts one schema-inference job") {
    Tables.nation(spark, sf)
    assert(Jobs.during(spark)(Tables.nation(spark, sf)).isEmpty)
    val control = Jobs.during(spark)(spark.read.parquet(s"$sf/nation.parquet"))
    assert(control.size == 1)
    assert(control.count(Jobs.isSchemaInference) == 1)
  }

  test("a file-form table rewritten with an extra column is read with the new schema") {
    val tmp = Files.createTempDirectory("graft-tables")
    val table = tmp.resolve("t.parquet")
    def rewrite(df: DataFrame): Unit = {
      val out = tmp.resolve(s"w${System.nanoTime()}")
      df.coalesce(1).write.parquet(out.toString)
      Files.copy(partFile(out), table, StandardCopyOption.REPLACE_EXISTING)
    }
    rewrite(spark.range(4).select(col("id")))
    assert(Tables.parquet(spark, table.toString).columns.toSeq == Seq("id"))
    rewrite(spark.range(4).select(col("id"), (col("id") * 2).as("twice")))
    val after = Tables.parquet(spark, table.toString)
    assert(after.columns.toSeq == Seq("id", "twice"))
    assert(after.agg(org.apache.spark.sql.functions.sum("twice")).head().getLong(0) == 12L)
  }

  test("a part file added inside a partition of a directory table is listed and re-infers") {
    val tmp = Files.createTempDirectory("graft-tables")
    val table = tmp.resolve("t.parquet")
    spark.range(5).withColumn("k", lit(1)).write.partitionBy("k").parquet(table.toString)
    assert(Tables.parquet(spark, table.toString).count() == 5)
    assert(inferences(Tables.parquet(spark, table.toString)) == 0)
    val other = tmp.resolve("other")
    spark.range(3).coalesce(1).withColumn("k", lit(1)).write.partitionBy("k").parquet(other.toString)
    val part = partFile(other.resolve("k=1"))
    Files.move(part, table.resolve("k=1").resolve(s"added-${part.getFileName}"))
    var grown: DataFrame = null
    assert(inferences { grown = Tables.parquet(spark, table.toString) } == 1)
    assert(grown.filter(col("k") === 1).count() == 8)
  }

  test("flipping spark.sql.parquet.binaryAsString re-infers the schema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    // a file without Spark's schema in its footer, so the conf decides the type
    val table = Files.createTempDirectory("graft-tables").resolve("b.parquet").toString
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(table))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("b", Binary.fromString("x")))
    finally writer.close()
    def bType = Tables.parquet(spark, table).schema("b").dataType
    withConf("spark.sql.parquet.binaryAsString" -> "false") { assert(bType == BinaryType) }
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      assert(inferences(assert(bType == StringType)) == 1)
      assert(inferences(bType) == 0)
    }
  }

  /** Every parquet relation under `df`, with its schema and the schema an
    * inferred read of its root path gives. */
  private def relationSchemas(df: DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }.collect {
      case h: HadoopFsRelation =>
        (h.schema, spark.read.parquet(h.location.rootPaths.head.toString).schema)
    }

  test("reads of a file graft just wrote take the writer's schema, equal to the inferred one") {
    val g13 = relationSchemas(Pipeline.bestCheckpointRoundtrip(spark))
    assert(g13.size == 1)
    assert(g13.forall { case (given, inferred) => given == inferred })

    val tmp = Files.createTempDirectory("graft-mv").toString
    val cur = new java.util.concurrent.atomic.AtomicReference[StreamingOps.MvGeneration](null)
    val events = Tables.events(spark, sf)
    StreamingOps.mvMergeBatch(events.filter(col("event_id") % 2 === 0), 0L, tmp, cur)
    StreamingOps.mvMergeBatch(events.filter(col("event_id") % 2 === 1), 1L, tmp, cur)
    val state = relationSchemas(EventsOps.mvFinish(cur.get.read(spark)))
    assert(state.size == 1)
    assert(state.forall { case (given, inferred) => given == inferred })
    assert(EventsOps.mvFinish(cur.get.read(spark)).agg(org.apache.spark.sql.functions.sum("n_events"))
      .head().getLong(0) == events.count())
  }
}
