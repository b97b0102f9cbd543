package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.pipeline.{OperatorCache, TextSearch}

/** `search`: a BM25 index built once by `writeIndex`, then the seeded
  * schedule of top-10 reads with updates, appends, deletes and
  * compactions between them; a unit is one group of the three writes
  * and a compaction. Every write op reports the index's file count and
  * bytes, sampled after its timing stops. */
final class SearchWorkload(work: String, t: Tracer) extends Workload {
  private val schedule = Main.seq(Main.readJson(s"$work/schedule.json").get("ops"))
  private var spark: SparkSession = _
  private var dir: String = _
  private var builds = 0

  def setup(s: SparkSession): Unit = {
    spark = s
    builds += 1
    dir = s"$work/index$builds"
    val corpus = spark.read.parquet(s"$work/corpus.parquet")
    t.span("pipeline.textsearch.write_index")(TextSearch.writeIndex(corpus, "doc_id", "text", dir))
    OperatorCache.releaseAll(spark)
  }

  val warmupOps = 2
  def kindOf(i: Int): String = schedule(i).get("kind").asText()
  override def unitStart(i: Int): Boolean = schedule(i).has("unit_start")
  override def length: Int = schedule.size

  private def docs(n: com.fasterxml.jackson.databind.JsonNode) = {
    val d = Main.seq(n.get("docs")).map(x => (x.get("id").asLong(), x.get("text").asText()))
    (spark.createDataFrame(d).toDF("doc_id", "text"), d.map(_._2.getBytes("UTF-8").length).sum)
  }

  def op(i: Int, traced: Boolean): Map[String, Any] = {
    val o = schedule(i)
    val kind = kindOf(i)
    kind match {
      case "read" =>
        val terms = Main.seq(o.get("terms")).map(_.asText())
        val df = t.span("pipeline.textsearch.serve_plan")(TextSearch.searchTopK(spark, dir, terms, k = 10))
        val rows = t.span("pipeline.textsearch.serve_exec") {
          val r = df.collect()
          t.attr("rows", r.length)
          r
        }
        Map("hits" -> rows.toSeq.map(r => Seq(r.getLong(0), r.getDouble(1), r.getLong(2))))
      case "append" | "update" =>
        val (df, bytes) = docs(o)
        t.span(s"pipeline.textsearch.$kind") {
          t.attr("input_bytes", bytes.toDouble)
          if (kind == "append") TextSearch.appendIndex(df, "doc_id", "text", dir)
          else TextSearch.updateIndex(df, "doc_id", "text", dir)
          OperatorCache.releaseAll(spark)
        }
        Map.empty
      case "delete" =>
        val ids = Main.seq(o.get("ids")).map(x => Tuple1(x.asLong()))
        t.span("pipeline.textsearch.delete")(
          TextSearch.deleteFromIndex(spark, dir, spark.createDataFrame(ids).toDF("doc_id"), "doc_id"))
        Map.empty
      case "compact" =>
        t.span("pipeline.textsearch.compact")(TextSearch.compactIndex(spark, dir))
        Map.empty
    }
  }

  /** Data files and their bytes under the index directory, after
    * every write. */
  override def after(kind: String): Map[String, Any] =
    if (kind == "read") Map.empty
    else {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      val files = walk(new File(dir)).filter(_.getName.endsWith(".parquet"))
      Map("index_files" -> files.size, "index_bytes" -> files.map(_.length()).sum)
    }
}
