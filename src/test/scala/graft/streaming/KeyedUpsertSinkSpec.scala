package graft.streaming

import graft.SparkTestBase
import graft.ops.KeyedStore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class KeyedUpsertSinkSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming CDC batches land as keyed-store versions, readable live") {
    implicit val sqlCtx = spark.sqlContext
    val path = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "ks_stream").toString
    KeyedStore.dropKeyedStore(spark, path)
    val in = MemoryStream[(Long, String, Double)]
    val q = in.toDF().toDF("id", "name", "score").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        KeyedStore.writeKeyedBatch(b, "id", path, id) }
      .start()
    try {
      in.addData((1L, "a", 1.0), (2L, "b", 2.0))
      q.processAllAvailable()
      val v0 = KeyedStore.readLatest(spark, path)
        .select($"id", $"name").as[(Long, String)].collect().toSet
      assert(v0 == Set((1L, "a"), (2L, "b")))

      in.addData((2L, "b2", 2.5), (3L, "c", 3.0))
      q.processAllAvailable()
      val v1 = KeyedStore.readLatest(spark, path)
        .select($"id", $"name", $"batch").as[(Long, String, Long)].collect().toSet
      assert(v1 == Set((1L, "a", 0L), (2L, "b2", 1L), (3L, "c", 1L)))

      // snapshot of the stream's own history
      val snap = KeyedStore.readLatest(spark, path, asOf = Some(0L))
        .select($"id", $"name").as[(Long, String)].collect().toSet
      assert(snap == Set((1L, "a"), (2L, "b")))
    } finally q.stop()
  }
}
