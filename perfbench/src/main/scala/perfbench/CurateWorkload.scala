package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{OperatorCache, TrainingPipeline}

/** `curate`: one full p49-shaped `TrainingPipeline.curate` per
  * operation (quality floor, near-dup dedup, Gopher rules, blocklist
  * decontamination, span surgery, split), its output collected. The
  * warm-up is the program's own per-stage survivor card
  * (`curateReport`) over the same corpus, whose counts the checks need,
  * then one full run whose output is kept for the invariant checks;
  * every timed run's digest must match it. */
final class CurateWorkload(work: String, t: Tracer) extends Workload {
  private var spark: SparkSession = _
  private var docs: DataFrame = _
  private var blocklist: DataFrame = _

  def setup(s: SparkSession): Unit = {
    spark = s
    docs = spark.read.parquet(s"$work/corpus.parquet")
    blocklist = spark.read.parquet(s"$work/blocklist.parquet")
  }

  val warmupOps = 2
  def kindOf(i: Int): String = if (i == 0) "report" else "curate"
  private val (minQuality, minWords) = (0.3, 20L)

  def op(i: Int, traced: Boolean): Map[String, Any] =
    if (i == 0) {
      val card = TrainingPipeline.curateReport(docs, "doc_id", "text",
        minQuality = minQuality, minWords = minWords,
        blocklist = Some((blocklist, "bl_id", "text"))).collect()
      OperatorCache.releaseAll(spark)
      Map("stages" -> card.toSeq.map(r => Map("stage" -> r.getAs[String]("stage"),
        "surviving" -> r.getAs[Long]("docs_surviving"), "dropped" -> r.getAs[Long]("docs_dropped"))))
    } else {
      val out = t.span("pipeline.curate.build")(TrainingPipeline.curate(docs, "doc_id", "text",
        minQuality = minQuality, minWords = minWords,
        blocklist = Some((blocklist, "bl_id", "text"))))
      val rows = t.span("pipeline.curate.exec")(out.collect())
      OperatorCache.releaseAll(spark)
      val sorted = rows.toSeq.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[String]("split"))).sortBy(_._1)
      val md = MessageDigest.getInstance("SHA-256")
      sorted.foreach(r => md.update(s"${r._1}\u0000${r._2}\u0000${r._3}\n".getBytes("UTF-8")))
      Map("digest" -> md.digest().map("%02x".format(_)).mkString, "n_out" -> sorted.size) ++
        (if (i < warmupOps) Map("rows" -> sorted.map(r => Seq(r._1, r._2, r._3))) else Map.empty)
    }
}
