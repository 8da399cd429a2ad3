package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Jupyter-notebook (ipynb) extraction — the container format of code
  * corpora (every notebook on a code host ships as nbformat JSON).
  * Prose (markdown cells) and code (code cells) are separate training
  * channels, so the extractor surfaces both independently.
  *
  * Spark-first by design: the notebook is JSON, so the reader is NOT a
  * hand parser — it is `from_json` with the nbformat-4 schema plus
  * higher-order functions (filter/transform/flatten/array_join), i.e.
  * a fully declarative plan Catalyst can prune and push. Only the
  * fixture writer (JSON rendering with the spec's escape rules) is
  * imperative code.
  */
object Notebook {

  /** Lines per source line (the q398 oracle layout constant). */
  val WordsPerLine = 5

  /** Source lines per cell. */
  val LinesPerCell = 2

  /** JSON string escape per RFC 8259: quote, backslash, and all
    * control chars below 0x20.
    */
  private[graft] def jsonEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Serialize alternating markdown/code cells (cell 1 is markdown) as
    * an nbformat-4 notebook. Source is the spec's array-of-lines form,
    * every line carrying its trailing newline except the cell's last.
    */
  private[graft] def renderIpynb(lines: Seq[String]): String = {
    val cells = lines.grouped(LinesPerCell).toVector
    val sb = new StringBuilder
    sb.append("""{"cells":[""")
    cells.zipWithIndex.foreach { case (ls, i) =>
      if (i > 0) sb.append(',')
      val isMd = i % 2 == 0
      sb.append("{\"cell_type\":\"")
        .append(if (isMd) "markdown" else "code").append("\",")
      sb.append("\"metadata\":{},")
      if (!isMd) sb.append("\"execution_count\":null,\"outputs\":[],")
      sb.append("\"source\":[")
      ls.zipWithIndex.foreach { case (l, j) =>
        if (j > 0) sb.append(',')
        val withNl = if (j < ls.size - 1) l + "\n" else l
        sb.append('"').append(jsonEscape(withNl)).append('"')
      }
      sb.append("]}")
    }
    sb.append("""],"metadata":{"language_info":{"name":"python"}},""")
    sb.append(""""nbformat":4,"nbformat_minor":5}""")
    sb.toString
  }

  /** Render the documents table as notebooks by the fixture rule:
    * 5-word source lines, 2 lines per cell, cells alternating
    * markdown/code starting with markdown.
    */
  def asNotebookDocs(docs: DataFrame): DataFrame = {
    Multimodal.perDocument(Parallelism.ensure(docs)) { rows =>
      rows.map { case (id, text) =>
        val lines = text.split(" ", -1).grouped(WordsPerLine)
          .map(_.mkString(" ")).toSeq
        (id, renderIpynb(lines))
      }
    }.toDF("doc_id", "ipynb")
  }

  /** nbformat-4 schema (the subset the extraction reads — from_json
    * ignores the other keys).
    */
  val NbSchema: String =
    "STRUCT<cells: ARRAY<STRUCT<cell_type: STRING, " +
      "source: ARRAY<STRING>>>, nbformat: INT>"

  private def channelText(cells: Column, kind: String): Column =
    array_join(
      transform(
        filter(cells, c => c.getField("cell_type") === kind),
        c => array_join(c.getField("source"), "")),
      "\n")

  /** Declarative extraction: parse, split channels, count cells.
    * Output: doc_id, nbformat, n_cells, n_code_cells, md_text,
    * code_text.
    */
  def extractCells(nbs: DataFrame): DataFrame = {
    val parsed = nbs.select(col("doc_id"),
      from_json(col("ipynb"), NbSchema, Map("mode" -> "FAILFAST")).as("nb"))
    parsed.select(
      col("doc_id"),
      col("nb.nbformat").as("nbformat"),
      size(col("nb.cells")).as("n_cells"),
      size(filter(col("nb.cells"),
        c => c.getField("cell_type") === "code")).as("n_code_cells"),
      channelText(col("nb.cells"), "markdown").as("md_text"),
      channelText(col("nb.cells"), "code").as("code_text"))
  }
}
