package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.TextOps

/**
 * BPE trainer at production vocab scale — the claim behind
 * [[TextOps.learnBpeMerges]]' cost switch ("a vocab over the driver bound
 * trains distributed, identically") as a measured record, not prose:
 *
 *  - synthesize a deterministic vocab LARGER than [[TextOps.BpeDriverVocabLimit]]
 *    (10-char lowercase-hex words — a 16-symbol alphabet gives a dense,
 *    realistic pair distribution; counts vary per word),
 *  - train N merges through the DISTRIBUTED round loop (forced via
 *    driverVocabLimit = 0, which is also the default path at this size),
 *  - train the same merges in-driver (limit raised past the vocab),
 *  - assert identical merge tables AND identical final segmentations.
 *
 * Prints ONE JSON line; recorded in BASELINE.md. Not part of the driver gate.
 */
object BpeProbe {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val nWords = sys.env.getOrElse("BPE_PROBE_WORDS", "400000").toInt
    val nMerges = sys.env.getOrElse("BPE_PROBE_MERGES", "30").toInt
    val spark = graft.SparkDefaults.builder("graft-bpe-probe",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val words = spark.range(nWords)
      .select(substring(md5(col("id").cast("string")), 1, 10).as("word"),
        (col("id") % 997 + 1).as("cnt"))
      .groupBy("word").agg(sum("cnt").as("cnt")) // fold the rare md5-prefix collisions
      .localCheckpoint(true)
    val vocabWords = words.count()

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    // distributed loop (forced; also the default path at this vocab size)
    val ((mDist, vDist), secDist) =
      time(TextOps.learnBpeMergesFromWords(words, nMerges, driverVocabLimit = 0))
    val distRows = vDist.count()

    // in-driver path on the same vocab (limit raised past it)
    val ((mDrv, vDrvLazy), secDrvTrain) =
      time(TextOps.learnBpeMergesFromWords(words, nMerges, driverVocabLimit = nWords + 1))
    val (vDrv, secDrvApply) = time(vDrvLazy.localCheckpoint(true))
    val drvRows = vDrv.count()

    val mismatches = vDist.as("x").join(vDrv.as("y"), "word")
      .filter(col("x.seg") =!= col("y.seg") || col("x.cnt") =!= col("y.cnt"))
      .count()
    val identical = mDist == mDrv && mismatches == 0 && distRows == drvRows

    println(
      s"""{"probe":"bpe","vocab_words":$vocabWords,"n_merges":$nMerges,""" +
        s""""distributed_sec":${f"$secDist%.2f"},"sec_per_merge_distributed":${f"${secDist / nMerges}%.3f"},""" +
        s""""driver_train_sec":${f"$secDrvTrain%.2f"},"driver_apply_sec":${f"$secDrvApply%.2f"},""" +
        s""""identical_output":$identical,"first_merges":"${mDist.take(3).map(m => m.left + "+" + m.right).mkString(",")}"}""")
    require(identical, "distributed and driver BPE training diverged")
    spark.stop()
  }
}
