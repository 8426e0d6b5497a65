package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-row cost of graft's native expressions, each measured through a
  * one-stage plan over a fixed generated frame: the frame is checkpointed
  * first, so a pass is one scan of local blocks plus the kernel.
  */
object Kernels {
  val Rows = 40000L
  val Reps = 3

  def run(s: SparkSession): Map[String, Double] = {
    val base = s.range(0, Rows, 1, Main.Workers).select(col("id"),
      expr("transform(sequence(0, 63), i -> cast(sin(id * 64 + i) as float))").as("a"),
      expr("transform(sequence(0, 63), i -> cast(cos(id * 64 + i) as float))").as("b"),
      expr("concat_ws(' ', transform(sequence(0, 47), " +
        "i -> concat('w', cast(pmod(id * 7 + i * 13, 997) as string))))").as("text"))
      .withColumn("sh", call_function("word_ngrams", col("text"), lit(3)))
      .localCheckpoint(true)
    val cents = base.filter(col("id") < 64)
      .agg(collect_list(struct(col("id").as("cid"), col("a").as("cvec"))).as("cents"))
      .localCheckpoint(true)
    val kernels: Seq[(String, DataFrame => Unit)] = Seq(
      "fvec_dot" -> (b => noop(b.select(call_function("fvec_dot", col("a"), col("b"))))),
      "fvec_avg" -> (b => b.agg(call_function("fvec_avg", col("a"), lit(64))).collect()),
      "minhash_sigs" -> (b => noop(b.select(call_function("minhash_sigs", col("sh"))))),
      "word_ngram_hashes" -> (b => noop(b.select(call_function("word_ngram_hashes", col("text"), lit(3))))),
      "ivf_assign" -> (b => noop(b.crossJoin(broadcast(cents))
        .select(call_function("ivf_assign", col("a"), col("cents"))))))
    kernels.map { case (name, f) =>
      f(base) // compile and warm the plan
      val ns = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        f(base)
        (System.nanoTime() - t0).toDouble / Rows
      }
      s"kernel.$name.ns_per_row" -> Main.median(ns)
    }.toMap
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
