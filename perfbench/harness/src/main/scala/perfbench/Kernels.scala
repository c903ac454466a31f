package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.plans.{CosineSim, MinhashSig, PqAdc, PqEncode, SortedIntersectCount,
  SortedXxhash64Array, WordShingles}

/** Per-row cost of the native `graft.plans` kernels: one select of the
  * kernel over a cached, seed-generated input, minus a plain scan of
  * the same input columns, divided by the row count. Each timing is
  * the median of `reps` runs.
  */
object Kernels {
  val Rows = 50000L
  val Reps = 5
  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  def run(spark: SparkSession, seed: Long): Map[String, Double] = {
    def h(salt: Int, i: Column, mod: Int): Column =
      pmod(xxhash64(col("id"), i, lit(seed), lit(salt)), lit(mod))
    val vocab = array(Vocab.map(lit): _*)
    def text(salt: Int): Column = concat_ws(" ", transform(sequence(lit(1), lit(40)),
      i => element_at(vocab, (h(salt, i, Vocab.size) + 1).cast("int"))))
    def vec(salt: Int): Column = transform(sequence(lit(1), lit(64)),
      i => h(salt, i, 2000) / 1000.0 - 1.0)
    val m = 8
    val ksub = 256
    val rnd = new scala.util.Random(seed)
    val codebook = typedLit(Array.fill(m * ksub * 8)(rnd.nextDouble() * 2 - 1))
    val adcTable = typedLit(Array.fill(m * ksub)(rnd.nextDouble()))

    val base = spark.range(Rows).repartition(spark.sparkContext.defaultParallelism)
      .select(text(1).as("text"), text(2).as("text_b"),
        vec(3).cast("array<float>").as("va"), vec(4).cast("array<float>").as("vb"),
        vec(5).as("vd"),
        // codes are unsigned bytes stored as tinyint
        transform(sequence(lit(1), lit(m)), i => (h(6, i, ksub) - 128).cast("tinyint")).as("codes"))
      .select(col("*"), WordShingles(col("text"), 3, true).as("sh"),
        WordShingles(col("text_b"), 3, true).as("sh_b"))
      .select(col("*"), SortedXxhash64Array(col("sh")).as("ha"),
        SortedXxhash64Array(col("sh_b")).as("hb"))
      .persist(StorageLevel.MEMORY_ONLY)
    base.count()

    def nsPerRow(inputs: Seq[String], kernel: Column): Double = {
      val scan = base.select(inputs.map(col): _*)
      val k = base.select(kernel)
      def med(df: DataFrame): Double = {
        val ts = (1 to Reps).map { _ =>
          val t0 = System.nanoTime()
          df.queryExecution.toRdd.count()
          (System.nanoTime() - t0).toDouble
        }.sorted
        ts(Reps / 2)
      }
      med(scan)
      (med(k) - med(scan)) / Rows
    }

    val out = Map(
      "plans.word_shingles_ns_row" -> nsPerRow(Seq("text"), WordShingles(col("text"), 3, true)),
      "plans.minhash_sig_ns_row" -> nsPerRow(Seq("sh"), MinhashSig(col("sh"), 128)),
      "plans.sorted_intersect_ns_row" ->
        nsPerRow(Seq("ha", "hb"), SortedIntersectCount(col("ha"), col("hb"))),
      "plans.cosine_sim_ns_row" -> nsPerRow(Seq("va", "vb"), CosineSim(col("va"), col("vb"))),
      "plans.pq_adc_ns_row" -> nsPerRow(Seq("codes"), PqAdc(col("codes"), adcTable, ksub)),
      "plans.pq_encode_ns_row" -> nsPerRow(Seq("vd"), PqEncode(col("vd"), codebook, m, ksub)))
    base.unpersist(blocking = true)
    out
  }
}
