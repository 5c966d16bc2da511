package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** BPE training-scale bench — measures [[graft.operators.Bpe.trainOn]]
  * at production vocabulary sizes and records the jobs-vs-N curve, so
  * the "30k merges ≈ a ~2 h single-node job" extrapolation rests on
  * measured points at multiple N, not one.
  *
  * The corpus is a deterministic synthetic word-type table (seeded
  * LCG; 200k types, Zipf frequencies, lengths 3–12) rather than the sf
  * documents: the sf corpora exhaust their pair space near merge ~90,
  * which is a property of the fixture, not of the trainer — a
  * production tokenizer trains on a vocabulary whose pair space
  * survives tens of thousands of merges, which is what this table
  * models. Word-type count, not corpus bytes, is what the per-round
  * cost depends on (the corpus is touched once; every round runs on
  * the vocabulary-sized frame), so 200k types IS the production-scale
  * knob.
  *
  * Prints ONE JSON line: per-N wall seconds, accepted merges, rounds
  * (driver loop iterations ≈ N/64) and Spark jobs. Not part of the
  * driver contract — run manually:
  * `SPARK_GRAFT_BPE_NS=1000,4000 sbt "runMain graft.BpeBench"`.
  * Results live in PLANS.md §"text_bpe_merges".
  */
object BpeBench {

  def main(args: Array[String]): Unit = {
    val ns = sys.env.getOrElse("SPARK_GRAFT_BPE_NS", "1000,4000")
      .split(",").map(_.trim.toInt).toSeq
    val spark = Sessions.local(Sessions.cpus(),
      "spark.sql.shuffle.partitions" -> "32")
    import spark.implicits._

    // deterministic synthetic vocabulary: the same fixture shape as the
    // round-10 manual measurement (200k types, rich pair space)
    val rnd = new scala.util.Random(42)
    val types = (0 until 200000).map { r =>
      val len = 3 + rnd.nextInt(10)
      val w = (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      (w, math.max(1L, (1000000.0 / (r + 1)).toLong))
    }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
    val words = types.toDF("tok", "freq")
      .withColumn("syms",
        transform(sequence(lit(1), length($"tok")),
          i => $"tok".substr(i, lit(1))))
      .repartition(32)

    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })

    // engine: "local" (default — the round-14 production trainer,
    // graft.operators.Bpe.trainLocal) or "spark" (the distributed
    // batched loop, the pre-r14 path whose N=30k run never completed)
    val engine = sys.env.getOrElse("SPARK_GRAFT_BPE_ENGINE", "local")
    val cells = ns.map { n =>
      val j0 = jobs.get
      val t0 = System.nanoTime()
      val (merges, seg) =
        if (engine == "local")
          graft.operators.Bpe.trainOnLocal(spark, words, n, strict = false)
        else
          graft.operators.Bpe.trainOn(
            spark, words, n, incremental = true, strict = false)
      val sec = (System.nanoTime() - t0) / 1e9
      graft.functions.DfMemo.release(seg)
      val rounds = math.ceil(n / 64.0).toInt
      (n, merges.size, rounds, math.round(sec * 10.0) / 10.0, jobs.get - j0)
    }
    val cellJson = cells.map { case (n, m, r, s, j) =>
      s""""$n":{"merges":$m,"rounds_max":$r,"sec":$s,"jobs":$j}"""
    }.mkString(",")
    println(s"""{"metric":"bpe_train_scale","unit":"sec","engine":"$engine","n_types":${types.size},"cells":{$cellJson}}""")
    spark.stop()
  }
}
