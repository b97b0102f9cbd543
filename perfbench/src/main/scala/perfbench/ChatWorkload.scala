package perfbench

import org.apache.spark.sql.SparkSession

import graft.agent.{Agent, HttpLlm, Llm, StubLlmServer}
import graft.api.Graft
import graft.engine.{Engine, SqlGate}
import graft.response._

/** `chat`: conversations of one `Graft.chat` and three `Graft.followUp`
  * turns against an HTTP LLM whose scripted replies are SQL over the
  * ten tables. Operation `i` is turn `i` of the script; a turn is timed
  * from the question to its fully collected answer.
  *
  * A traced turn runs the same steps as `Agent.chat` (prompt, LLM,
  * gate, analysis, response typing, retry on error) as separate calls
  * into each module, so each gets its own span. */
final class ChatWorkload(work: String, t: Tracer) extends Workload {
  private val script = Main.readJson(s"$work/script.json")
  private val tables = Main.seq(script.get("tables")).map(_.asText())
  private val turns = Main.seq(script.get("turns")).map { n =>
    (n.get("id").asText(), n.get("question").asText(), n.get("sql").asText(),
      Option(n.get("bad_sql")).filterNot(_.isNull).map(_.asText()))
  }
  private val byId = turns.map(x => x._1 -> x).toMap
  private val Id = """\[(t\d{5})\]""".r

  /** The scripted LLM: a first-attempt prompt gets the question's SQL
    * (its broken variant when scripted so), a correction prompt the
    * right SQL for the last question in the conversation. Earlier
    * questions of the conversation appear above the current one. */
  private def reply(prompt: String): String = {
    val fix = prompt.indexOf("You generated the following SQL query:")
    if (fix >= 0) {
      val id = Id.findAllMatchIn(prompt.substring(0, fix)).toSeq.last.group(1)
      byId(id)._3
    } else {
      val id = Id.findFirstMatchIn(prompt.substring(prompt.lastIndexOf("### QUERY"))).get.group(1)
      val (_, _, sql, bad) = byId(id)
      bad.getOrElse(sql)
    }
  }

  private val server = StubLlmServer.start(reply)
  private val llm = new HttpLlm(server.url, "perfbench", apiKey = Some("perfbench"))
  private var spark: SparkSession = _
  private var engine: Engine = _
  private var agent: Agent = _

  def setup(s: SparkSession): Unit = {
    spark = s
    engine = Graft.configure(spark, llm, datasetsRoot = s"$work/datasets")
    tables.foreach(n => t.span("plan.load")(Graft.load(s"bench/$n")))
  }

  private val convTurns = 4
  val warmupOps = convTurns
  def kindOf(i: Int): String = if (i % convTurns == 0) "chat" else "followup"
  override def unitStart(i: Int): Boolean = i % convTurns == 0
  override def length: Int = turns.size
  // whole conversations alternate, so a conversation keeps one agent
  override def traceKey(i: Int): String = (i % convTurns).toString

  def op(i: Int, traced: Boolean): Map[String, Any] = {
    val (id, question, _, _) = turns(i)
    val first = unitStart(i)
    val hits0 = server.hits.get()
    val (resp, attempts) =
      if (traced) tracedTurn(question, first)
      else (if (first) Graft.chat(question) else Graft.followUp(question),
        server.hits.get() - hits0)
    val rows = t.span("engine.exec")(collect(resp))
    Map("id" -> id, "attempts" -> attempts, "rows" -> rows)
  }

  private def collect(r: Response): Seq[Seq[Any]] = r match {
    case NumberR(v)     => Seq(Seq(v))
    case StringR(v)     => Seq(Seq(v))
    case DataFrameR(df) => df.collect().toSeq.map(_.toSeq.map {
      case d: java.math.BigDecimal => d.doubleValue()
      case n: Number => n
      case v => String.valueOf(v)
    })
    case other => throw new IllegalStateException(s"turn answered ${other.kind}: $other")
  }

  private def tracedTurn(question: String, first: Boolean): (Response, Int) = {
    if (agent == null) agent = new Agent(engine, tracedLlm)
    if (first) agent.memory.clear()
    agent.memory.add(question, isUser = true)
    var failed: Option[(String, String)] = None
    var attempt = 0
    while (attempt <= agent.maxRetries) {
      val prompt = t.span("agent.prompt") {
        val p = failed.fold(agent.buildPrompt(question)) { case (sql, err) =>
          agent.buildCorrectionPrompt(sql, err)
        }
        t.attr("chars", p.length)
        p
      }
      val sql = agent.extractSql(agent.llm.generate(prompt))
      attempt += 1
      try {
        t.span("engine.gate")(SqlGate.checkTables(spark, sql, engine.knownTables))
        val df = t.span("engine.analyze")(spark.sql(sql))
        val resp = t.span("response.infer")(Response.fromResult(df))
        agent.memory.add(sql, isUser = false)
        return (resp, attempt)
      } catch {
        case e: Exception => failed = Some((sql, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
    (ErrorR(s"query failed after $attempt attempts"), attempt)
  }

  private lazy val tracedLlm: Llm = new Llm {
    def generate(prompt: String): String = t.span("agent.llm")(llm.generate(prompt))
  }

  override def close(): Unit = server.stop()
}
