package graft.operators

import org.apache.spark.sql.DataFrame

/** arXiv/LaTeX source ingest — papers corpora ship as tar.gz of .tex,
  * and the prose needs extracting the same way wikitext does: a
  * BOUNDED macro strip with a FIXED pass structure (the
  * [[XmlDump.stripWikitext]] template), never a TeX engine. One linear
  * scan with deterministic rules:
  *
  *   - `%` comments drop to end of line (`\%` stays a literal);
  *   - math becomes the VISIBLE `[MATH]` placeholder, counted:
  *     `$…$`, `$$…$$`, `\(…\)`, `\[…\]` and the math environments
  *     (equation/align/gather/multline/math/displaymath/eqnarray,
  *     starred or not) — a placeholder, not silence, because sentence
  *     structure around formulas is the prose signal;
  *   - `\section{T}`-family commands (incl. title/paragraph) keep T on
  *     its own line; `\emph`/`\textbf`/`\textit`/`\texttt`/`\text`
  *     keep their content inline;
  *   - `\cite`/`\citep`/`\citet`/`\ref`/`\eqref` are COUNTABLE drops
  *     (n_cites — the pruned-provenance audit signal);
  *   - float/source environments drop whole (figure/table/tabular/
  *     tikzpicture/thebibliography/verbatim/lstlisting); every other
  *     `\begin`/`\end` pair is structure only, its content flows;
  *   - preamble/reference commands drop with their one argument
  *     (documentclass/usepackage/label/footnote/url/includegraphics/
  *     input/include/bibliography/bibliographystyle/author/date);
  *   - `\\` → line break, `~` → space, escaped specials
  *     (`\% \& \_ \$ \# \{ \}`) → their characters, TeX quotes
  *     (``` `` ``` / `''`) → `"`; unknown commands vanish, their brace
  *     content flows (conservative: never delete prose we can't
  *     classify);
  *   - output normalizes per line (whitespace collapsed, empty lines
  *     dropped, lines joined by NEWLINE) — the [[Docx]] contract.
  *
  * Torn input keeps its completed prefix (an unclosed math run or
  * environment becomes one placeholder/drop to end — countable,
  * never a throw). Map-only over (media_id, payload) tar.gz rows via
  * the shipped [[TarShard]] walk + [[DumpDecode.decompressAuto]].
  * Reference scope: north-star corpus surface (the reference ingests
  * line JSON only — `App.java:136-162`).
  */
object Latex {

  private val SectionCmds = Set("section", "subsection", "subsubsection",
    "paragraph", "title", "chapter")
  private val KeepCmds = Set("emph", "textbf", "textit", "texttt", "text", "mbox")
  private val CiteCmds = Set("cite", "citep", "citet", "ref", "eqref")
  private val DropArgCmds = Set("label", "footnote", "url", "includegraphics",
    "usepackage", "documentclass", "bibliography", "bibliographystyle",
    "input", "include", "author", "date", "vspace", "hspace")
  private val MathEnvs = Set("equation", "align", "gather", "multline",
    "math", "displaymath", "eqnarray")
  private val DropEnvs = Set("figure", "table", "tabular", "tikzpicture",
    "thebibliography", "verbatim", "lstlisting")

  /** One stripped document: prose text + the countable drops. */
  final case class LatexText(text: String, n_math: Int, n_cites: Int)

  def strip(src: String): LatexText = {
    if (src == null) return LatexText(null, 0, 0)
    var nMath = 0
    var nCites = 0

    // read a balanced {…} group at s(i) == '{'; returns (content, after)
    def braceGroup(s: String, i: Int): (String, Int) = {
      var depth = 0
      var j = i
      while (j < s.length) {
        val c = s.charAt(j)
        if (c == '\\' && j + 1 < s.length) j += 2
        else {
          if (c == '{') depth += 1
          else if (c == '}') { depth -= 1; if (depth == 0) return (s.substring(i + 1, j), j + 1) }
          j += 1
        }
      }
      (s.substring(math.min(i + 1, s.length)), s.length) // torn group: to end
    }

    def skipOpt(s: String, i: Int): Int =
      if (i < s.length && s.charAt(i) == '[') {
        val e = s.indexOf(']', i + 1)
        if (e < 0) s.length else e + 1
      } else i

    def scan(s: String, out: java.lang.StringBuilder, depth: Int): Unit = {
      if (depth > 8) { out.append(s): Unit; return }
      var i = 0
      val n = s.length
      while (i < n) {
        val c = s.charAt(i)
        if (c == '%') {
          val e = s.indexOf('\n', i)
          i = if (e < 0) n else e // keep the newline itself
        } else if (c == '$') {
          val dd = i + 1 < n && s.charAt(i + 1) == '$'
          val open = if (dd) "$$" else "$"
          val e = s.indexOf(open, i + open.length)
          nMath += 1
          out.append("[MATH]"): Unit
          i = if (e < 0) n else e + open.length
        } else if (c == '~') { out.append(' '): Unit; i += 1 }
        else if (c == '{' || c == '}') i += 1 // bare grouping: content flows
        else if (c == '`' && i + 1 < n && s.charAt(i + 1) == '`') {
          out.append('"'): Unit; i += 2
        } else if (c == '\'' && i + 1 < n && s.charAt(i + 1) == '\'') {
          out.append('"'): Unit; i += 2
        } else if (c == '\\') {
          if (i + 1 >= n) i = n
          else {
            val c2 = s.charAt(i + 1)
            if (c2 == '\\') { out.append('\n'): Unit; i += 2 }
            else if (c2 == '(' || c2 == '[') {
              val close = if (c2 == '(') "\\)" else "\\]"
              val e = s.indexOf(close, i + 2)
              nMath += 1
              out.append("[MATH]"): Unit
              i = if (e < 0) n else e + 2
            } else if ("%&_$#{}".indexOf(c2) >= 0) { out.append(c2): Unit; i += 2 }
            else if (Character.isLetter(c2)) {
              var j = i + 1
              while (j < n && Character.isLetter(s.charAt(j))) j += 1
              val name = s.substring(i + 1, j)
              if (j < n && s.charAt(j) == '*') { j += 1 } // starred forms
              if (name == "begin") {
                val (env0, after) = if (j < n && s.charAt(j) == '{') braceGroup(s, j) else ("", j)
                val env = env0.stripSuffix("*")
                if (MathEnvs(env) || DropEnvs(env)) {
                  // skip to the matching \end{env0}, same-name nesting counted
                  val open = s"\\begin{$env0}"
                  val close = s"\\end{$env0}"
                  var d = 1
                  var p = after
                  while (d > 0 && p < n) {
                    val no = s.indexOf(open, p)
                    val nc = s.indexOf(close, p)
                    if (nc < 0) { d = 0; p = n } // torn env: drop to end
                    else if (no >= 0 && no < nc) { d += 1; p = no + open.length }
                    else { d -= 1; p = nc + close.length }
                  }
                  if (MathEnvs(env)) { nMath += 1; out.append("[MATH]"): Unit }
                  i = p
                } else i = after // structural env: marker drops, content flows
              } else if (name == "end") {
                val (_, after) = if (j < n && s.charAt(j) == '{') braceGroup(s, j) else ("", j)
                i = after
              } else if (SectionCmds(name)) {
                val k = skipOpt(s, j)
                if (k < n && s.charAt(k) == '{') {
                  val (content, after) = braceGroup(s, k)
                  scan(content, out, depth + 1)
                  out.append('\n'): Unit
                  i = after
                } else i = k
              } else if (KeepCmds(name)) {
                val k = skipOpt(s, j)
                if (k < n && s.charAt(k) == '{') {
                  val (content, after) = braceGroup(s, k)
                  scan(content, out, depth + 1)
                  i = after
                } else i = k
              } else if (CiteCmds(name)) {
                nCites += 1
                val k = skipOpt(s, j)
                i = if (k < n && s.charAt(k) == '{') braceGroup(s, k)._2 else k
              } else if (DropArgCmds(name)) {
                val k = skipOpt(s, j)
                i = if (k < n && s.charAt(k) == '{') braceGroup(s, k)._2 else k
              } else {
                // unknown command: the name vanishes, any brace content
                // flows back through the main loop
                i = skipOpt(s, j)
              }
            } else i += 2 // \<symbol> outside the table: both drop
          }
        } else { out.append(c): Unit; i += 1 }
      }
    }

    val sb = new java.lang.StringBuilder(src.length)
    scan(src, sb, 0)
    val text = sb.toString.split("\n", -1).iterator
      .map(_.replaceAll("\\s+", " ").trim)
      .filter(_.nonEmpty)
      .mkString("\n")
    LatexText(text, nMath, nCites)
  }

  /** One row per .tex member of each tar(.gz) payload: (media_id,
    * tex_idx, name, text, n_math, n_cites). Junk payloads yield no
    * rows (countable against the input). Map-only.
    */
  def texRows(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        if (p == null) Iterator.empty
        else {
          val tar = try DumpDecode.decompressAuto(p) catch {
            case scala.util.control.NonFatal(_) => null
          }
          if (tar == null) Iterator.empty
          else TarShard.entries(tar).iterator
            .filter(e => e.typeflag == "0" && e.name.endsWith(".tex"))
            .zipWithIndex
            .map { case (e, idx) =>
              val d = strip(new String(e.data, java.nio.charset.StandardCharsets.UTF_8))
              (id, idx, e.name, d.text, d.n_math, d.n_cites)
            }
        }
      }
      .toDF(idCol, "tex_idx", "name", "text", "n_math", "n_cites")
  }
}
