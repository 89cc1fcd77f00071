package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.core.Tables
import graft.queries.{PipelineQueries, StreamQueries}

/** `StreamQueries.replay` derives the staged stream's schema from the
  * frame it writes: the schema must be exactly what Spark reads back from
  * such a write, and deriving it must cost no job beyond the write's. */
class StreamReplaySpec extends SparkSpec {
  import spark.implicits._

  private def shapes: Seq[(String, DataFrame)] = {
    val docs = Tables(spark, sfDir, "documents")
    val planted = PipelineQueries.plantedDocs(docs)
    Seq(
      "documents" -> docs,
      "documents(doc_id, lang)" -> docs.select(col("doc_id"), col("lang")),
      "planted" -> planted,
      "planted corpus" -> planted.where(col("doc_id") >= 1000000L),
      // non-nullable columns and nested types: the nullable rewrite must
      // reach struct fields, array elements and map values
      "nested" -> Seq((1L, Seq("a", "b"), Map("k" -> 2)))
        .toDF("id", "xs", "m")
        .select(col("id"), col("xs"), col("m"),
          struct(col("id").as("i"), lit("c").as("c")).as("st"),
          lit(1.5).as("d")))
  }

  test("replay streams the staged copy with the schema a read would infer, " +
      "running only the write's jobs") {
    for ((name, df) <- shapes) {
      var stream: DataFrame = null
      val replayJobs = jobsDuring { stream = StreamQueries.replay(df) }
      val dir = java.nio.file.Files.createTempDirectory("replay_spec").toString
      val writeJobs = jobsDuring(
        df.repartition(1).write.mode("overwrite").parquet(dir))
      assert(stream.isStreaming, name)
      assert(stream.schema == spark.read.parquet(dir).schema, name)
      assert(replayJobs == writeJobs, name)
      val sink = s"replay_${name.filter(_.isLetter)}"
      stream.writeStream.queryName(sink).outputMode(OutputMode.Append())
        .format("memory").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      def rows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
      assert(rows(spark.table(sink)) == rows(df), name)
    }
  }
}
