package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingOps

/** A generated class compiles once per JVM: the sessions
  * [[Sessions.builder]] makes share one executor class loader (the key
  * of Spark's codegen cache is class loader plus code), and the cache
  * holds more than the engine's working set of classes. Compiles are
  * counted as the growth of Spark's compilation-time histogram.
  */
class CodegenCacheSpec extends SparkSpec {
  import spark.implicits._

  private def compiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compiledBy(body: => Unit): Long = {
    val before = compiles()
    body
    compiles() - before
  }

  /** Two long columns a, b over 64 rows, one parquet file per call. */
  private def writeInput(dir: String, from: Long): Unit =
    (from until from + 64).map(i => (i, i % 7)).toDF("a", "b")
      .coalesce(1).write.mode("append").parquet(dir)

  /** Sum of a*b over `df`: a global aggregate, no literal in its code. */
  private def product(df: DataFrame): Long =
    df.agg(sum(col("a") * col("b"))).as[Long].head()

  test("a second AvailableNow run of a literal-free foreachBatch query " +
      "compiles no class") {
    withTempDir("graft-codegen-stream") { root =>
      val (in, ckpt) = (s"$root/in", s"$root/ckpt")
      writeInput(in, 0L)
      val schema = spark.read.parquet(in).schema
      val seen = new java.util.concurrent.atomic.AtomicLong(0L)
      val body: (DataFrame, Long) => Unit =
        (batch, _) => seen.addAndGet(product(batch))
      def run(): Unit = spark.readStream.schema(schema).parquet(in)
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      run()
      val first = seen.get()
      writeInput(in, 64L)
      assert(compiledBy(run()) === 0L)
      assert(seen.get() > first, "the second run processed no batch")
    }
  }

  test("a query in a streamSession child compiles no class after its " +
      "parent ran the same plan") {
    withTempDir("graft-codegen-child") { root =>
      writeInput(root, 0L)
      val expected = product(spark.read.parquet(root))
      val child = StreamingOps.streamSession(spark)
      var got = 0L
      assert(compiledBy { got = product(child.read.parquet(root)) } === 0L)
      assert(got === expected)
    }
  }

  test("the codegen cache holds more than 100 distinct projections") {
    withTempDir("graft-codegen-lru") { root =>
      writeInput(root, 0L)
      val df = spark.read.parquet(root)
      // i-fold sums of column a: distinct code per i, no literal
      def shape(i: Int): Long =
        df.select(Seq.fill(i)(col("a")).reduce(_ + _).as("s"))
          .agg(sum("s")).as[Long].head()
      val first = shape(1)
      for (i <- 2 to 200) shape(i)
      var again = 0L
      assert(compiledBy { again = shape(1) } === 0L)
      assert(again === first)
    }
  }
}
