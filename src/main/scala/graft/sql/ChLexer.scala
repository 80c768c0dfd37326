package graft.sql

import java.util.regex.{Matcher, Pattern}

/** The one SQL lexer under the ClickHouse shim ([[Compat.translateCh]],
  * [[Compat.chSql]]), and the only code there that knows SQL quoting:
  *
  *  - `'...'` strings, with `''` and backslash escapes (both Spark's and
  *    ClickHouse's lexers accept either);
  *  - backtick- and double-quoted identifiers (doubled-delimiter and
  *    backslash escapes);
  *  - `--` line comments (the newline is not part of the comment) and
  *    nested `/* ... */` comments, `/*+ hints */` included, which Spark
  *    reads and the shim hands over verbatim;
  *  - words (`[letters, digits, _]` runs), single punctuation characters
  *    and their paren depth.
  *
  * A shim pass sees the query through two views of one scan:
  *
  *  - [[Lexed.code]]: the tokens other than comments, with offsets and
  *    paren depth, for the structural passes;
  *  - [[Lexed.mask]]: a same-length copy of the text in which comments
  *    are spaces and the contents of strings and quoted identifiers are
  *    [[Fill]] characters (their delimiters stay). A regex pass matches
  *    on the mask and splices from the original text at the same
  *    offsets ([[Lexed.replaceAll]], [[Lexed.rewriteEach]]), so no
  *    pattern can match inside a literal, a quoted name or a comment,
  *    and none can lose one.
  *
  * Unterminated strings, quoted names and block comments run to the end
  * of the text; Spark's parser then rejects the query.
  */
object ChLexer {
  /** Words, `'...'` strings, backtick- or double-quoted names, comments
    * and single punctuation characters. */
  sealed trait Kind
  case object Word extends Kind
  case object Str extends Kind
  case object Quoted extends Kind
  case object Comment extends Kind
  case object Punct extends Kind

  /** `depth`: the parens open around the token; a paren and its match
    * share the depth of their surroundings. */
  final case class Token(kind: Kind, start: Int, end: Int, depth: Int)

  /** Stands for each character inside a string or quoted identifier in
    * the mask: not whitespace, not a word character, not a quote, paren,
    * comma or dot, so no shim pattern matches it. */
  val Fill = '\u0001'

  def apply(sql: String): Lexed = new Lexed(sql)

  private def isWord(c: Char) = Character.isLetterOrDigit(c) || c == '_'

  private def scan(sql: String): IndexedSeq[Token] = {
    val out = IndexedSeq.newBuilder[Token]
    val n = sql.length
    var (i, depth) = (0, 0)
    // end of the quoted run opened at `at` by `q`: a doubled `q`
    // escapes it, and so does a backslash except in backticks
    def quoted(at: Int, q: Char): Int = {
      var j = at + 1
      while (j < n) {
        val d = sql.charAt(j)
        if (d == '\\' && q != '`') j += 2
        else if (d != q) j += 1
        else if (j + 1 < n && sql.charAt(j + 1) == q) j += 2
        else return j + 1
      }
      n
    }
    while (i < n) {
      val c = sql.charAt(i)
      val next = if (i + 1 < n) sql.charAt(i + 1) else ' '
      if (c.isWhitespace) i += 1
      else {
        val (kind, end) =
          if (c == '\'') (Str, quoted(i, c))
          else if (c == '`' || c == '"') (Quoted, quoted(i, c))
          else if (c == '-' && next == '-')
            (Comment, Some(sql.indexOf('\n', i)).filter(_ >= 0).getOrElse(n))
          else if (c == '/' && next == '*') {
            var j = i + 2
            var open = 1
            while (j < n && open > 0) {
              if (sql.startsWith("/*", j)) { open += 1; j += 2 }
              else if (sql.startsWith("*/", j)) { open -= 1; j += 2 }
              else j += 1
            }
            (Comment, math.min(j, n))
          } else if (isWord(c)) {
            var j = i + 1
            while (j < n && isWord(sql.charAt(j))) j += 1
            (Word, j)
          } else (Punct, i + 1)
        if (c == ')' && kind == Punct) depth -= 1
        out += Token(kind, i, end, depth)
        if (c == '(' && kind == Punct) depth += 1
        i = end
      }
    }
    out.result()
  }

  /** The two views of one query text (see [[ChLexer]]). */
  final class Lexed(val sql: String) {
    private val tokens = scan(sql)
    lazy val code: IndexedSeq[Token] = tokens.filter(_.kind != Comment)

    lazy val mask: String = {
      val m = sql.toCharArray
      tokens.foreach { t =>
        t.kind match {
          case Comment => java.util.Arrays.fill(m, t.start, t.end, ' ')
          case Str | Quoted if t.end - t.start > 2 =>
            java.util.Arrays.fill(m, t.start + 1, t.end - 1, Fill)
          case _ =>
        }
      }
      new String(m)
    }

    def text(t: Token): String = sql.substring(t.start, t.end)

    /** Whether `t` is the punctuation character `c`. */
    def is(t: Token, c: Char): Boolean =
      t.kind == Punct && sql.charAt(t.start) == c

    /** The original text of [start, end) without the whitespace and
      * comments at either end, so a spliced piece never ends inside a
      * line comment. */
    def slice(start: Int, end: Int): String = {
      var s = start
      var e = end
      while (s < e && mask.charAt(s).isWhitespace) s += 1
      while (e > s && mask.charAt(e - 1).isWhitespace) e -= 1
      sql.substring(s, e)
    }

    /** Group `g` of a match on the mask, as original text ([[slice]]);
      * null when the group did not take part. */
    def group(m: Matcher, g: Int): String =
      if (m.start(g) < 0) null else slice(m.start(g), m.end(g))

    /** The match of `p` on the mask that starts at `from`, if any. */
    def at(p: Pattern, from: Int): Option[Matcher] = {
      val m = p.matcher(mask).region(from, sql.length)
      if (m.lookingAt()) Some(m) else None
    }

    /** Offset of the first depth-0 word `word` (any case) at or after
      * `from`, or -1. */
    def topLevel(word: String, from: Int): Int =
      code.find(t => t.start >= from && t.depth == 0 && t.kind == Word &&
        text(t).equalsIgnoreCase(word)).map(_.start).getOrElse(-1)

    /** The argument list that starts at `from`, just after an opening
      * paren: its depth-0 comma-separated pieces ([[slice]]d) and the
      * offset of the closing paren; None if it never closes. */
    def args(from: Int): Option[(Seq[String], Int)] = {
      val it = code.iterator.dropWhile(_.start < from)
      var open = 0
      var start = from
      val out = Seq.newBuilder[String]
      while (it.hasNext) {
        val t = it.next()
        if (is(t, '(')) open += 1
        else if (is(t, ')') && open > 0) open -= 1
        else if (open == 0 && (is(t, ',') || is(t, ')'))) {
          out += slice(start, t.start)
          if (is(t, ')')) return Some((out.result(), t.start))
          start = t.end
        }
      }
      None
    }

    /** `sql` with each match of `p` on the mask replaced by `f` of the
      * match; `f` reads groups through [[group]]. */
    def replaceAll(p: Pattern)(f: Matcher => String): String =
      rewriteEach(p)(m => (f(m), m.end))

    /** `sql` with each match of `p` on the mask, left to right, replaced
      * by `f`'s text up to `f`'s end offset, where the next search
      * starts. `p` must not match the empty string. */
    def rewriteEach(p: Pattern)(f: Matcher => (String, Int)): String = {
      val m = p.matcher(mask)
      if (!m.find()) return sql
      val sb = new java.lang.StringBuilder(sql.length)
      var last = 0
      while (last < sql.length && m.find(last)) {
        val (repl, end) = f(m)
        sb.append(sql, last, m.start).append(repl)
        last = math.max(end, m.end)
      }
      sb.append(sql, math.min(last, sql.length), sql.length).toString
    }
  }

  /** The lexing of `out`, the text a pass made of `lx`: `lx` itself
    * when the pass changed nothing, so a chain of passes lexes a text
    * once. */
  def relex(lx: Lexed, out: String): Lexed =
    if ((out eq lx.sql) || out == lx.sql) lx else apply(out)

  /** `lx` with every match of `regex` on its mask replaced by
    * `template`, whose `$n` stand for the groups' original text. */
  def replaceAll(lx: Lexed, regex: String, template: String): Lexed =
    relex(lx, lx.replaceAll(Pattern.compile(regex)) { m =>
      GroupRef.replaceAllIn(template, r => Matcher.quoteReplacement(
        Option(lx.group(m, r.group(1).toInt)).getOrElse("")))
    })
  private val GroupRef = "\\$(\\d)".r

  /** The value of `s` when it is exactly one string literal. */
  def stringValue(s: String): Option[String] = apply(s).code match {
    case Seq(t) if t.kind == Str && t.end - t.start >= 2 =>
      Some(s.substring(t.start + 1, t.end - 1))
    case _ => None
  }
}
