package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Chat-template rendering and parsing — the SFT/instruction-tuning
  * data-prep step: conversations must be serialized into the model's
  * template (ChatML here: `<|im_start|>role\ncontent<|im_end|>\n`)
  * for training, and parsed back out of it for inspection, filtering,
  * and loss masking (assistant turns carry the loss; user/system
  * turns are context).
  *
  * Spark-first by design: the PARSER is fully declarative —
  * `split` on the start delimiter + higher-order filter/transform/
  * array_join with `substring_index` arithmetic, a plan Catalyst
  * prunes and codegens; malformed conversations (a segment missing
  * its end delimiter) raise an error rather than silently truncating.
  * Only the fixture writer is imperative code.
  */
object Chat {

  val ImStart = "<|im_start|>"
  val ImEnd = "<|im_end|>"

  /** Words per message — the q401 oracle's layout constant. */
  val WordsPerMsg = 6

  // ------------------------------------------------------------------
  // Writer
  // ------------------------------------------------------------------

  private def block(role: String, content: String): String = {
    require(!content.contains(ImStart) && !content.contains(ImEnd),
      s"message content contains a template delimiter: $content")
    ImStart + role + "\n" + content + ImEnd + "\n"
  }

  /** Serialize a conversation as ChatML: optional system turn first,
    * then the (role, content) turns in order.
    */
  def renderChatML(system: Option[String],
    msgs: Seq[(String, String)]): String = {
    val sb = new StringBuilder
    system.foreach(s => sb.append(block("system", s)))
    msgs.foreach { case (role, content) => sb.append(block(role, content)) }
    sb.toString
  }

  /** Render the documents table as ChatML conversations by the fixture
    * rule: 6-word messages alternating user/assistant starting with
    * user; ids %5==0 carry a system turn whose content is id-derived,
    * never document text.
    */
  def asChatDocs(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val msgs = text.split(" ", -1).grouped(WordsPerMsg).zipWithIndex
          .map { case (ws, i) =>
            (if (i % 2 == 0) "user" else "assistant", ws.mkString(" "))
          }.toSeq
        val sys =
          if (id % 5 == 0) Some(s"You are assistant #$id.") else None
        (id, renderChatML(sys, msgs))
      }
    }.toDF("doc_id", "chat")
  }

  // ------------------------------------------------------------------
  // Parser (declarative)
  // ------------------------------------------------------------------

  private def channel(msgs: Column, role: String): Column =
    array_join(
      transform(filter(msgs, m => m.getField("role") === role),
        m => m.getField("content")),
      "\n")

  /** Declarative ChatML parse. Output: doc_id, n_msgs, n_system,
    * user_text, asst_text. A segment without its end delimiter (a
    * truncated or corrupted conversation) raises an error.
    */
  def parseChatML(chats: DataFrame): DataFrame = {
    val segs = filter(
      split(col("chat"), java.util.regex.Pattern.quote(ImStart), -1),
      s => length(s) > 0)
    val msgs = transform(segs, { seg =>
      val body = substring_index(seg, ImEnd, 1)
      val role = substring_index(body, "\n", 1)
      struct(role.as("role"),
        body.substr(length(role) + lit(2), length(body)).as("content"))
    })
    val guarded = when(
      forall(segs, s => s.contains(ImEnd)), msgs)
      .otherwise(raise_error(concat(
        lit("malformed ChatML (segment missing "), lit(ImEnd),
        lit("): "), col("chat"))))
    chats.select(col("doc_id"), guarded.as("msgs"))
      .select(
        col("doc_id"),
        size(col("msgs")).as("n_msgs"),
        size(filter(col("msgs"),
          m => m.getField("role") === "system")).as("n_system"),
        channel(col("msgs"), "user").as("user_text"),
        channel(col("msgs"), "assistant").as("asst_text"))
  }
}
