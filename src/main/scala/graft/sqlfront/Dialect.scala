package graft.sqlfront

import graft.types.ShaperTypes
import scala.collection.mutable.ArrayBuffer
import scala.util.matching.Regex

/** DuckDB-dialect → Spark SQL rewrites, applied to statement text before
  * `spark.sql`. Token-level (quote-aware), mirroring the reference's own
  * string-matching level of rigor (SURVEY.md §7).
  *
  * [[rewrite]] runs 23 structural passes, in this order, then binds the
  * statement's variables:
  *  1. `[expr FOR x IN list IF cond]` list comprehensions →
  *     `transform(filter(...))`;
  *  2. `[a, b]` list literals → `array(a, b)`;
  *  3. `{k: v}` struct and `MAP {k: v}` literals → `named_struct` / `map`;
  *  4. `expr::NAME` for the 48 shaper types → `NAME(expr)` (the functions
  *     are injected by graft.GraftExtensions); cast chains like
  *     `'x'::TIMESTAMP::XAXIS` resolve outside-in;
  *  5. `TIMESTAMPTZ` → `TIMESTAMP` (Spark TIMESTAMP is tz-aware);
  *  6. zero-arg `count()` → `count(*)` (README.md:16 uses it);
  *  7. `duckdb_tables()` and the other zero-arg catalog table functions →
  *     their session views;
  *  8. `BOXPLOT(x, outlier_info := y)` → `boxplot_info(x, y)`;
  *  9. `BOXPLOT(x)` → a struct of built-in aggregates;
  *  10. `list_unique(l)` → `size(array_distinct(array_compact(l)))`;
  *  11. `list_slice(l, a, b)` → a `slice` expression;
  *  12. 1:1 function renames (`list_max` → `array_max`, ...);
  *  13. `strftime(ts, '%Y')` → `date_format(ts, 'yyyy')`;
  *  14. trailing commas before `FROM` or `)` dropped;
  *  15. a bare `(VALUES ...)` subquery named `__v(col0, ...)`;
  *  16. interval shorthand (`INTERVAL '1h'`) → long units;
  *  17. `FETCH FIRST n ROWS ONLY` → `LIMIT n`;
  *  18. `USING SAMPLE` → `TABLESAMPLE`;
  *  19. FROM-first statements (`FROM t ...`) → `SELECT * FROM t ...`;
  *  20. `* EXCLUDE (cols)` → `* EXCEPT (cols)`;
  *  21. `* REPLACE (expr AS col)` → `* EXCEPT (col), expr AS col`;
  *  22. `SELECT DISTINCT ON (keys)` → a `row_number` filter;
  *  23. `QUALIFY pred` → a wrapped window-filter subquery.
  *
  * The passes read only the text, so their output is computed once per
  * statement text: a [[Template]] holds it, cut at each
  * `getvariable('x')` call into fixed pieces and variable slots, in a
  * process-wide [[Templates]] memo keyed on the exact text. A rewrite is
  * the template's [[Template.bind]]: the pieces, and for each slot the
  * variable's stored literal in parentheses, `(NULL)` when unset (shaper
  * prefixes SET VARIABLE statements instead — same observable semantics,
  * ref app.go:574-595). A bound literal never passes through a rewrite.
  * The memo entry also records the variables the key text names, for
  * the unset-variable scan ([[referencedVariables]]).
  */
object Dialect {

  sealed trait TokKind
  case object TWord extends TokKind
  case object TString extends TokKind
  case object TQuoted extends TokKind
  case object TNum extends TokKind
  case object TColonColon extends TokKind
  case object TLParen extends TokKind
  case object TRParen extends TokKind
  case object TLBracket extends TokKind
  case object TRBracket extends TokKind
  case object TDot extends TokKind
  case object TWs extends TokKind
  case object TOther extends TokKind

  final case class Tok(kind: TokKind, text: String)

  def tokenize(sql: String): Vector[Tok] = {
    val toks = Vector.newBuilder[Tok]
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'') {
        val sb = new StringBuilder("'")
        i += 1
        var done = false
        while (i < n && !done) {
          val ch = sql.charAt(i)
          sb.append(ch)
          if (ch == '\'') {
            if (i + 1 < n && sql.charAt(i + 1) == '\'') { sb.append('\''); i += 2 }
            else { done = true; i += 1 }
          } else i += 1
        }
        toks += Tok(TString, sb.toString)
      } else if (c == '"') {
        val sb = new StringBuilder("\"")
        i += 1
        var done = false
        while (i < n && !done) {
          val ch = sql.charAt(i)
          sb.append(ch)
          if (ch == '"') {
            if (i + 1 < n && sql.charAt(i + 1) == '"') { sb.append('"'); i += 2 }
            else { done = true; i += 1 }
          } else i += 1
        }
        toks += Tok(TQuoted, sb.toString)
      } else if (c.isWhitespace) {
        val s = i
        while (i < n && sql.charAt(i).isWhitespace) i += 1
        toks += Tok(TWs, sql.substring(s, i))
      } else if (c.isLetter || c == '_') {
        val s = i
        while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_' || sql.charAt(i) == '$')) i += 1
        toks += Tok(TWord, sql.substring(s, i))
      } else if (c.isDigit) {
        val s = i
        while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '.')) i += 1
        toks += Tok(TNum, sql.substring(s, i))
      } else if (c == ':' && i + 1 < n && sql.charAt(i + 1) == ':') {
        toks += Tok(TColonColon, "::"); i += 2
      } else {
        val kind = c match {
          case '(' => TLParen
          case ')' => TRParen
          case '[' => TLBracket
          case ']' => TRBracket
          case '.' => TDot
          case _ => TOther
        }
        toks += Tok(kind, c.toString); i += 1
      }
    }
    toks.result()
  }

  def render(toks: Seq[Tok]): String = toks.iterator.map(_.text).mkString

  private[graft] def prevNonWs(toks: Vector[Tok], i: Int): Int = {
    var j = i
    while (j >= 0 && toks(j).kind == TWs) j -= 1
    j
  }

  private[graft] def nextNonWs(toks: Vector[Tok], j0: Int): Int = {
    var j = j0
    while (j < toks.length && toks(j).kind == TWs) j += 1
    j
  }

  /** Index of the `)` matching the `(` at `open`, or -1. */
  private[graft] def matchParen(toks: Vector[Tok], open: Int): Int = {
    var depth = 0
    var k = open
    while (k < toks.length) {
      toks(k).kind match {
        case TLParen => depth += 1
        case TRParen =>
          depth -= 1
          if (depth == 0) return k
        case _ =>
      }
      k += 1
    }
    -1
  }

  /** Start index (inclusive) of the operand ending at token `end`
    * (inclusive), walking left over parens/brackets, dotted names, literals
    * and `::` cast chains. Returns -1 if no operand found. */
  private def operandStart(toks: Vector[Tok], end: Int): Int = {
    var j = prevNonWs(toks, end)
    if (j < 0) return -1
    toks(j).kind match {
      case TRParen | TRBracket =>
        val close = toks(j).kind
        val open = if (close == TRParen) TLParen else TLBracket
        var depth = 0
        var k = j
        var found = -1
        while (k >= 0 && found < 0) {
          val t = toks(k).kind
          if (t == close) depth += 1
          else if (t == open) {
            depth -= 1
            if (depth == 0) found = k
          }
          k -= 1
        }
        if (found < 0) return -1
        var s = found
        // absorb function name / array base directly before the opener
        val p = prevNonWs(toks, s - 1)
        if (p >= 0 && (toks(p).kind == TWord || toks(p).kind == TQuoted) &&
            !isKeywordBarrier(toks(p).text)) {
          s = absorbDotted(toks, p)
        }
        absorbCastChain(toks, s)
      case TString =>
        // typed literals: TIMESTAMP '...', DATE '...', INTERVAL '...'
        val p = prevNonWs(toks, j - 1)
        val s =
          if (p >= 0 && toks(p).kind == TWord && isTypedLiteralKeyword(toks(p).text)) p
          else j
        absorbCastChain(toks, s)
      case TWord | TQuoted | TNum =>
        val s = absorbDotted(toks, j)
        absorbCastChain(toks, s)
      case _ => -1
    }
  }

  private def isTypedLiteralKeyword(w: String): Boolean = {
    val u = w.toUpperCase
    u == "TIMESTAMP" || u == "TIMESTAMPTZ" || u == "DATE" || u == "TIME" || u == "INTERVAL"
  }

  /** Words that must not be swallowed as a "function name" before `(`. */
  private def isKeywordBarrier(w: String): Boolean = {
    val u = w.toUpperCase
    u == "SELECT" || u == "FROM" || u == "WHERE" || u == "AND" || u == "OR" ||
    u == "ON" || u == "BY" || u == "AS" || u == "IN" || u == "NOT" ||
    u == "THEN" || u == "ELSE" || u == "WHEN" || u == "CASE" || u == "END" ||
    u == "UNION" || u == "ALL" || u == "DISTINCT" || u == "VALUES" ||
    u == "JOIN" || u == "HAVING" || u == "LIMIT" || u == "OFFSET" || u == "SET"
  }

  private def absorbDotted(toks: Vector[Tok], start: Int): Int = {
    var s = start
    var cont = true
    while (cont) {
      cont = false
      if (s - 1 >= 0 && toks(s - 1).kind == TDot) {
        val p = s - 2
        if (p >= 0 && (toks(p).kind == TWord || toks(p).kind == TQuoted)) {
          s = p; cont = true
        }
      }
    }
    s
  }

  private def absorbCastChain(toks: Vector[Tok], start: Int): Int = {
    val p = prevNonWs(toks, start - 1)
    if (p >= 0 && toks(p).kind == TColonColon) {
      val inner = operandStart(toks, p - 1)
      if (inner >= 0) inner else start
    } else start
  }

  /** `operand::NAME` → `NAME(operand)` for the 48 shaper type names. */
  def rewriteShaperCasts(sql: String): String = {
    var toks = tokenize(sql)
    var changed = true
    while (changed) {
      changed = false
      var i = 0
      while (i < toks.length - 1 && !changed) {
        if (toks(i).kind == TColonColon) {
          val nx = {
            var j = i + 1
            while (j < toks.length && toks(j).kind == TWs) j += 1
            j
          }
          if (nx < toks.length && toks(nx).kind == TWord &&
              ShaperTypes.names.contains(toks(nx).text.toUpperCase)) {
            val name = toks(nx).text.toUpperCase
            val s = operandStart(toks, i - 1)
            if (s >= 0) {
              val operand = toks.slice(s, prevNonWs(toks, i - 1) + 1)
              toks = toks.take(s) ++
                Vector(Tok(TWord, name), Tok(TLParen, "(")) ++ operand ++
                Vector(Tok(TRParen, ")")) ++
                toks.drop(nx + 1)
              changed = true
            }
          }
        }
        i += 1
      }
    }
    render(toks)
  }

  /** DuckDB `[a, b]` list literals → Spark `array(a, b)`. A `[` directly
    * after an operand (identifier, `)`, `]`, literal) is a subscript and
    * is left untouched. */
  /** DuckDB list comprehensions `[expr FOR x IN list (IF cond)?]` →
    * `transform(filter(list, x -> cond), x -> expr)` (or plain
    * `transform` without a condition). Runs before the array-literal
    * rewrite so the surrounding brackets are consumed here. Nested
    * comprehensions resolve innermost-first via re-scan. */
  def rewriteListComprehension(sql: String): String = {
    val toks = tokenize(sql)
    var i = 0
    while (i < toks.length) {
      if (toks(i).kind == TLBracket) {
        // matching close bracket
        var depth = 0
        var close = -1
        var k = i
        while (k < toks.length && close < 0) {
          toks(k).kind match {
            case TLBracket => depth += 1
            case TRBracket => depth -= 1; if (depth == 0) close = k
            case _ =>
          }
          k += 1
        }
        if (close > i) {
          // top-level FOR / IN / IF positions inside the brackets
          var d = 0
          var forIdx = -1
          var inIdx = -1
          var ifIdx = -1
          var j = i + 1
          while (j < close) {
            toks(j).kind match {
              case TLParen | TLBracket => d += 1
              case TRParen | TRBracket => d -= 1
              case TWord if d == 0 =>
                val u = toks(j).text.toUpperCase
                if (u == "FOR" && forIdx < 0) forIdx = j
                else if (u == "IN" && forIdx >= 0 && inIdx < 0) inIdx = j
                else if (u == "IF" && inIdx >= 0 && ifIdx < 0) ifIdx = j
              case _ =>
            }
            j += 1
          }
          if (forIdx > i && inIdx > forIdx) {
            val body = render(toks.slice(i + 1, forIdx)).trim
            val v = render(toks.slice(forIdx + 1, inIdx)).trim
            val listEnd = if (ifIdx > 0) ifIdx else close
            val listExpr = render(toks.slice(inIdx + 1, listEnd)).trim
            val source =
              if (ifIdx > 0) {
                val cond = render(toks.slice(ifIdx + 1, close)).trim
                s"filter($listExpr, $v -> $cond)"
              } else listExpr
            val replaced = render(toks.take(i)) +
              s"transform($source, $v -> $body)" +
              render(toks.drop(close + 1))
            return rewriteListComprehension(replaced)
          }
        }
      }
      i += 1
    }
    sql
  }

  def rewriteArrayLiterals(sql: String): String = {
    val toks = tokenize(sql)
    // classify each bracket: literal or subscript
    val isLiteral = Array.fill(toks.length)(false)
    val stack = scala.collection.mutable.Stack.empty[(Int, Boolean)] // (idx, literal?)
    var i = 0
    while (i < toks.length) {
      toks(i).kind match {
        case TLBracket =>
          val p = prevNonWs(toks, i - 1)
          val subscript = p >= 0 && (toks(p).kind match {
            case TWord => !isKeywordBarrier(toks(p).text)
            case TQuoted | TRParen | TRBracket | TString | TNum => true
            case _ => false
          })
          isLiteral(i) = !subscript
          stack.push((i, !subscript))
        case TRBracket =>
          if (stack.nonEmpty) {
            val (_, lit) = stack.pop()
            isLiteral(i) = lit
          }
        case _ =>
      }
      i += 1
    }
    val out = toks.zipWithIndex.map { case (t, idx) =>
      t.kind match {
        case TLBracket if isLiteral(idx) => Tok(TLParen, "array(")
        case TRBracket if isLiteral(idx) => Tok(TRParen, ")")
        case _ => t
      }
    }
    render(out)
  }

  /** DuckDB struct literals `{key: v, 'key2': v2}` → `named_struct('key',
    * v, 'key2', v2)` and MAP literals `MAP {'k': v}` → `map('k', v)`
    * (the reference's own BOXPLOT macro body builds struct literals,
    * custom_types.go:106-125). Innermost braces rewrite first, so
    * nested literals resolve on the re-scan; trailing commas inside the
    * braces are dropped (DuckDB allows them). Anything not shaped like
    * `key: value` pairs is left untouched. */
  def rewriteStructLiterals(sql: String): String = {
    val toks = tokenize(sql)
    var i = 0
    while (i < toks.length) {
      if (toks(i).kind == TOther && toks(i).text == "{") {
        // innermost-first: stop at the matching close OR the first
        // nested '{' — whichever comes first — and descend if nested
        var close = -1
        var nested = -1
        var j = i + 1
        while (j < toks.length && close < 0 && nested < 0) {
          val t = toks(j)
          if (t.kind == TOther && t.text == "{") nested = j
          else if (t.kind == TOther && t.text == "}") close = j
          j += 1
        }
        if (nested >= 0) { i = nested - 1 } // descend; loop re-enters at the inner '{'
        else if (close > i) {
          val inner = toks.slice(i + 1, close)
          // split top-level commas (only parens/brackets can nest here)
          val parts = {
            val acc = Vector.newBuilder[Vector[Tok]]
            var cur = Vector.newBuilder[Tok]
            var d = 0
            inner.foreach { t =>
              t.kind match {
                case TLParen | TLBracket => d += 1; cur += t
                case TRParen | TRBracket => d -= 1; cur += t
                case TOther if t.text == "," && d == 0 =>
                  acc += cur.result(); cur = Vector.newBuilder[Tok]
                case _ => cur += t
              }
            }
            acc += cur.result()
            acc.result().map(_.dropWhile(_.kind == TWs))
              .filter(_.exists(_.kind != TWs)) // trailing comma
          }
          // each part: (TWord | TString) ':' value — ':' at top level
          val kvs = parts.map { part =>
            if (part.isEmpty || (part.head.kind != TWord && part.head.kind != TString &&
                part.head.kind != TQuoted))
              None
            else {
              val rest = part.drop(1).dropWhile(_.kind == TWs)
              if (rest.isEmpty || rest.head.kind != TOther || rest.head.text != ":")
                None
              else {
                val key = part.head.kind match {
                  case TWord => "'" + part.head.text + "'"
                  case TQuoted =>
                    "'" + escapeForSingleQuotes(
                      part.head.text.stripPrefix("\"").stripSuffix("\"")
                        .replace("\"\"", "\"")) + "'"
                  case _ => part.head.text
                }
                val value = render(rest.drop(1)).trim
                if (value.isEmpty) None else Some((key, value))
              }
            }
          }
          if (parts.nonEmpty && kvs.forall(_.isDefined)) {
            val pairs = kvs.flatten.map { case (k, v) => s"$k, $v" }.mkString(", ")
            val p = prevNonWs(toks, i - 1)
            val isMap = p >= 0 && toks(p).kind == TWord &&
              toks(p).text.equalsIgnoreCase("MAP")
            val (prefixEnd, fn) = if (isMap) (p, "map") else (i, "named_struct")
            return rewriteStructLiterals(
              render(toks.take(prefixEnd)) + s"$fn($pairs)" +
                render(toks.drop(close + 1)))
          }
          i = close
        }
      }
      i += 1
    }
    sql
  }

  /** `::TIMESTAMPTZ` → `::TIMESTAMP` (and CAST(... AS TIMESTAMPTZ)). */
  def rewriteTimestampTz(sql: String): String = {
    val toks = tokenize(sql).map { t =>
      if (t.kind == TWord && t.text.equalsIgnoreCase("TIMESTAMPTZ"))
        Tok(TWord, "TIMESTAMP")
      else t
    }
    render(toks)
  }

  /** Zero-arg `count()` → `count(*)`. */
  def rewriteCountStar(sql: String): String = {
    val toks = tokenize(sql)
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.kind == TWord && t.text.equalsIgnoreCase("count")) {
        var j = i + 1
        while (j < toks.length && toks(j).kind == TWs) j += 1
        if (j < toks.length && toks(j).kind == TLParen) {
          var k = j + 1
          while (k < toks.length && toks(k).kind == TWs) k += 1
          if (k < toks.length && toks(k).kind == TRParen) {
            out += t += Tok(TLParen, "(") += Tok(TOther, "*") += Tok(TRParen, ")")
            i = k + 1
          } else { out += t; i += 1 }
        } else { out += t; i += 1 }
      } else { out += t; i += 1 }
    }
    render(out.toSeq)
  }

  /** `FROM t ...` (FROM-first syntax) → `SELECT * FROM t ...`. */
  def rewriteFromFirst(sql: String): String = {
    val trimmed = sql.trim
    if (trimmed.toUpperCase.startsWith("FROM")) "SELECT * " + trimmed else sql
  }

  val setVariableRegex: Regex = "(?i)SET\\s+VARIABLE\\s+([a-zA-Z0-9_]+)".r

  private def unquoteString(lit: String): String =
    lit.stripPrefix("'").stripSuffix("'").replace("''", "'")

  private def escapeForSingleQuotes(s: String): String = s.replace("'", "''")

  /** Token spans of `getvariable('x')` calls: (start, endExclusive, name).
    * Quote-aware — the word `getvariable` inside a string literal is a
    * single TString token and never matches. */
  private def getVariableSpans(toks: Vector[Tok]): Seq[(Int, Int, String)] = {
    val spans = Vector.newBuilder[(Int, Int, String)]
    var i = 0
    while (i < toks.length) {
      if (toks(i).kind == TWord && toks(i).text.equalsIgnoreCase("getvariable")) {
        val lp = nextNonWs(toks, i + 1)
        if (lp < toks.length && toks(lp).kind == TLParen) {
          val str = nextNonWs(toks, lp + 1)
          if (str < toks.length && toks(str).kind == TString) {
            val rp = nextNonWs(toks, str + 1)
            if (rp < toks.length && toks(rp).kind == TRParen) {
              spans += ((i, rp + 1, unquoteString(toks(str).text)))
              i = rp
            }
          }
        }
      }
      i += 1
    }
    spans.result()
  }

  /** Variable names referenced via getvariable(...) in statement text,
    * from the text's [[Templates]] entry. (ref: get_dashboard.go:26-28,88-98) */
  def referencedVariables(sql: String): Seq[String] = templates(sql).names

  /** Substitute getvariable('x') with the rendered SQL literal from the
    * variable store (NULL when unset — DuckDB's behavior for unset vars),
    * with no structural pass. */
  def substituteVariables(sql: String, vars: String => Option[String]): String =
    Template(sql).bind(vars)

  /** A statement text cut at its `getvariable('x')` calls: `pieces` are
    * the text around the calls, `slots` the variable each call reads
    * (one fewer than the pieces). Immutable. */
  private[graft] final class Template private (pieces: Array[String], slots: Array[String]) {

    /** Characters held by the pieces. */
    private[Dialect] val chars: Int = pieces.iterator.map(_.length).sum

    /** The text with each call replaced by `(literal)`, or `(NULL)` when
      * `vars` holds no value. */
    def bind(vars: String => Option[String]): String =
      if (slots.isEmpty) pieces(0)
      else {
        val sb = new java.lang.StringBuilder(chars + 16 * slots.length)
        sb.append(pieces(0))
        var i = 0
        while (i < slots.length) {
          sb.append('(').append(vars(slots(i)).getOrElse("NULL")).append(')').append(pieces(i + 1))
          i += 1
        }
        sb.toString
      }
  }

  private[graft] object Template {
    /** `text` cut at its `getvariable('x')` calls. */
    def apply(text: String): Template = {
      val toks = tokenize(text)
      val spans = getVariableSpans(toks)
      val offset = toks.iterator.scanLeft(0)(_ + _.text.length).toArray
      val pieces = new Array[String](spans.length + 1)
      var pos = 0
      for (((start, end, _), i) <- spans.zipWithIndex) {
        pieces(i) = text.substring(pos, offset(start))
        pos = offset(end)
      }
      pieces(spans.length) = text.substring(pos)
      new Template(pieces, spans.map(_._3).toArray)
    }
  }

  /** A statement text's [[Template]] after the structural passes, and
    * the variables the text itself names (the passes may copy a call, as
    * `DISTINCT ON` copies its ORDER BY). `chars` counts the key text and
    * the pieces. */
  private[graft] final class Entry private[Dialect] (val names: Seq[String], val template: Template,
      private[Dialect] val chars: Long)

  /** The memo of [[Entry]]s by exact statement text, least recently
    * used first out past `maxChars` characters; `passes` makes a text's
    * template text on a miss. A text whose passes throw leaves no entry:
    * the next call runs them again and throws the same. */
  private[graft] final class Templates private[graft] (maxChars: Long, passes: String => String) {
    private val entries = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)
    private var usedChars = 0L

    /** Statement texts whose structural passes ran: one per miss. */
    val rewrites = new java.util.concurrent.atomic.AtomicLong

    def apply(sql: String): Entry = {
      val held = synchronized(entries.get(sql))
      if (held != null) held
      else {
        rewrites.incrementAndGet()
        val template = Template(passes(sql))
        val e = new Entry(getVariableSpans(tokenize(sql)).map(_._3), template,
          sql.length.toLong + template.chars)
        if (e.chars <= maxChars) synchronized {
          Option(entries.put(sql, e)).foreach(old => usedChars -= old.chars)
          usedChars += e.chars
          val lru = entries.values.iterator
          while (usedChars > maxChars) {
            usedChars -= lru.next().chars
            lru.remove()
          }
        }
        e
      }
    }

    /** Characters held by keys and pieces. */
    def chars: Long = synchronized(usedChars)

    /** Statement texts with an entry. */
    def size: Int = synchronized(entries.size)
  }

  /** Budget of the process-wide memo: about 8 MB of string data. */
  private val TemplateChars: Long = 4L << 20

  /** The memo every rewrite shares. */
  private[graft] val templates = new Templates(TemplateChars, passes)

  /** Apply a text rewrite only to the stretches of a statement outside
    * single/double-quoted literals (for regex rewrites whose pattern never
    * legitimately spans a string token). */
  private def rewriteOutsideStrings(sql: String)(f: String => String): String = {
    val toks = tokenize(sql)
    if (!toks.exists(t => t.kind == TString || t.kind == TQuoted)) return f(sql)
    val sb = new StringBuilder
    val run = new StringBuilder
    def flush(): Unit = { sb.append(f(run.toString)); run.setLength(0) }
    toks.foreach { t =>
      if (t.kind == TString || t.kind == TQuoted) { flush(); sb.append(t.text) }
      else run.append(t.text)
    }
    flush()
    sb.toString
  }

  /** DuckDB list/string function names → Spark equivalents (only the
    * 1:1 renames the reference's own SQL exercises, SURVEY.md §2.A). */
  private val functionRenames = Map(
    "list_max" -> "array_max", "list_min" -> "array_min",
    "list_sort" -> "array_sort", "list_distinct" -> "array_distinct",
    "list_contains" -> "array_contains", "string_split" -> "split",
    "array_to_string" -> "array_join",
    // lambda syntax (x -> ...) is identical in both engines
    "list_transform" -> "transform", "list_filter" -> "filter",
    "list_reverse" -> "reverse", "array_length" -> "size",
    // DuckDB regexp_matches(s, p) ≡ Spark rlike(s, p) (2-arg form)
    "regexp_matches" -> "rlike",
    // verified exact vs DuckDB incl. edges (found→1-based, missing→0,
    // NULL list→NULL, NULL element→NULL)
    "list_position" -> "array_position", "list_indexof" -> "array_position",
    // BIGINT epoch milliseconds in both engines (verified); plain
    // epoch() stays unmapped — DuckDB returns fractional DOUBLE
    // seconds, Spark's unix_timestamp truncates to LONG.
    // date_diff stays unmapped too: DuckDB counts part-boundary
    // crossings, Spark's timestampdiff counts full intervals.
    "epoch_ms" -> "unix_millis",
    // DuckDB to_timestamp(double) is epoch-seconds → timestamp; the
    // dialect is DuckDB's, so the Spark string-parsing to_timestamp is
    // intentionally shadowed inside rewritten statements
    "to_timestamp" -> "timestamp_seconds")
  // NOT renamed (semantics differ, verified in DuckDB):
  // list_prepend/list_append/list_concat (DuckDB treats a NULL list as
  // empty — list_prepend(0, NULL) = [0]; Spark returns NULL). Loud
  // analysis failure beats a silent divergence. list_unique and the
  // 3-arg list_slice are handled by their edge-verified expression
  // rewrites below.

  /** DuckDB `list_unique(l)` (count of distinct non-NULL elements) →
    * `size(array_distinct(array_compact(l)))`. Verified vs DuckDB:
    * [1,1,2,NULL,NULL] → 2, NULL → NULL in both. Pure kernel
    * expressions — an earlier lambda-HOF form paid the 60-88x
    * CodegenFallback tax on every row. */
  def rewriteListUnique(sql: String): String = {
    val toks = tokenize(sql)
    var i = 0
    while (i < toks.length) {
      if (toks(i).kind == TWord && toks(i).text.equalsIgnoreCase("list_unique")) {
        val lp = nextNonWs(toks, i + 1)
        if (lp < toks.length && toks(lp).kind == TLParen) {
          val close = matchParen(toks, lp)
          if (close > lp) {
            val inner = render(toks.slice(lp + 1, close)).trim
            return rewriteListUnique(render(toks.take(i)) +
              s"size(array_distinct(array_compact($inner)))" +
              render(toks.drop(close + 1)))
          }
        }
      }
      i += 1
    }
    sql
  }

  /** DuckDB `list_slice(l, a, b)` (1-based INCLUSIVE end, negative
    * indices from the end, out-of-range clamped, NULL anywhere → NULL)
    * → a Spark `slice(l, start, length)` expression. Every edge
    * verified value-exact against DuckDB: (2,4)→[2,3,4], (2,-1)→tail,
    * (-3,-2), (0,2) clamps to 1, (4,2)→[], (2,99)/( -99,2) clamp,
    * NULL list/index → NULL (the explicit CASE — Spark's greatest()
    * skips NULLs instead of propagating). The 4-arg step form is left
    * untouched (loud failure). */
  def rewriteListSlice(sql: String): String = {
    val toks = tokenize(sql)
    var i = 0
    while (i < toks.length) {
      if (toks(i).kind == TWord && toks(i).text.equalsIgnoreCase("list_slice")) {
        val lp = nextNonWs(toks, i + 1)
        if (lp < toks.length && toks(lp).kind == TLParen) {
          val close = matchParen(toks, lp)
          if (close > lp) {
            val parts = {
              val acc = Vector.newBuilder[String]
              var cur = Vector.newBuilder[Tok]
              var d = 0
              toks.slice(lp + 1, close).foreach { t =>
                t.kind match {
                  case TLParen | TLBracket => d += 1; cur += t
                  case TRParen | TRBracket => d -= 1; cur += t
                  case TOther if t.text == "," && d == 0 =>
                    acc += render(cur.result()).trim; cur = Vector.newBuilder[Tok]
                  case _ => cur += t
                }
              }
              acc += render(cur.result()).trim
              acc.result()
            }
            if (parts.length == 3) {
              val Seq(l, a, b) = parts.toSeq
              val start = s"CASE WHEN ($a) < 0 THEN greatest(size($l) + ($a) + 1, 1) ELSE greatest(($a), 1) END"
              val end = s"CASE WHEN ($b) < 0 THEN size($l) + ($b) + 1 ELSE least(($b), size($l)) END"
              val replaced = s"CASE WHEN ($a) IS NULL OR ($b) IS NULL THEN NULL " +
                s"ELSE slice($l, $start, greatest(($end) - ($start) + 1, 0)) END"
              return rewriteListSlice(
                render(toks.take(i)) + replaced + render(toks.drop(close + 1)))
            }
          }
        }
      }
      i += 1
    }
    sql
  }

  def rewriteFunctionNames(sql: String): String = {
    val toks = tokenize(sql)
    val out = toks.zipWithIndex.map { case (t, i) =>
      if (t.kind == TWord && functionRenames.contains(t.text.toLowerCase)) {
        // only when used as a function call: next non-ws token is `(`
        var j = i + 1
        while (j < toks.length && toks(j).kind == TWs) j += 1
        if (j < toks.length && toks(j).kind == TLParen)
          Tok(TWord, functionRenames(t.text.toLowerCase))
        else t
      } else t
    }
    render(out)
  }

  /** `duckdb_tables()` → `duckdb_tables` etc. — the zero-arg DuckDB
    * catalog table functions are backed by session temp views
    * (graft.catalog.CatalogFunctions); stripping the call parens lets
    * the view resolve in FROM position. Calls with arguments are left
    * untouched (loud analysis error, like an unknown function). */
  def rewriteCatalogTableFns(sql: String): String = {
    val toks = tokenize(sql)
    val drop = Array.fill(toks.length)(false)
    var i = 0
    while (i < toks.length) {
      if (toks(i).kind == TWord &&
          graft.catalog.CatalogFunctions.names.contains(toks(i).text.toLowerCase)) {
        val lp = nextNonWs(toks, i + 1)
        if (lp < toks.length && toks(lp).kind == TLParen) {
          val close = nextNonWs(toks, lp + 1)
          if (close < toks.length && toks(close).kind == TRParen)
            (lp to close).foreach(drop(_) = true)
        }
      }
      i += 1
    }
    if (!drop.exists(identity)) sql
    else render(toks.zipWithIndex.collect { case (t, k) if !drop(k) => t })
  }

  /** `BOXPLOT(x, outlier_info := y)` → `boxplot_info(x, y)` — the
    * reference defines BOXPLOT as a DuckDB macro with a named-only
    * defaulted parameter (ref: custom_types.go:102-134); on Spark the
    * two branches are two registered UDAFs, so the named-arg call form
    * maps to the info variant. No-arg-name calls stay on the plain
    * BOXPLOT aggregate. */
  def rewriteBoxplotInfo(sql: String): String = {
    val toks = tokenize(sql)
    var i = 0
    while (i < toks.length) {
      if (toks(i).kind == TWord && toks(i).text.equalsIgnoreCase("BOXPLOT")) {
        val lp = nextNonWs(toks, i + 1)
        if (lp < toks.length && toks(lp).kind == TLParen) {
          val close = matchParen(toks, lp)
          if (close > lp) {
            // top-level comma split
            val parts = {
              val acc = Vector.newBuilder[Vector[Tok]]
              var cur = Vector.newBuilder[Tok]
              var d = 0
              toks.slice(lp + 1, close).foreach { t =>
                t.kind match {
                  case TLParen | TLBracket => d += 1; cur += t
                  case TRParen | TRBracket => d -= 1; cur += t
                  case TOther if t.text == "," && d == 0 =>
                    acc += cur.result(); cur = Vector.newBuilder[Tok]
                  case _ => cur += t
                }
              }
              acc += cur.result()
              acc.result().map(_.dropWhile(_.kind == TWs))
            }
            if (parts.length == 2 && parts(1).nonEmpty &&
                parts(1).head.kind == TWord &&
                parts(1).head.text.equalsIgnoreCase("outlier_info")) {
              val rest = parts(1).drop(1).dropWhile(_.kind == TWs)
              if (rest.length >= 3 && rest(0).text == ":" && rest(1).text == "=") {
                val infoExpr = render(rest.drop(2)).trim
                val valExpr = render(parts(0)).trim
                return rewriteBoxplotInfo(
                  render(toks.take(i)) + s"boxplot_info($valExpr, $infoExpr)" +
                    render(toks.drop(close + 1)))
              }
            }
          }
        }
      }
      i += 1
    }
    sql
  }

  /** `BOXPLOT(x)` (no outlier_info — the reference macro's ELSE branch,
    * ref: custom_types.go:120-133) → a named_struct of BUILT-IN
    * partial-aggregable aggregates (max/min/percentile). Spark's
    * `percentile` is exact linear interpolation — DuckDB quantile_cont
    * semantics — and aggregates map-side, so the rewritten form runs at
    * any group size with no per-group value collection (the old UDAF
    * buffered every value through Kryo). Field order (max, min,
    * outliers, q1, q2, q3) is the render layer's boxplot detection key.
    * Runs AFTER rewriteBoxplotInfo, so only the plain single-arg form
    * remains by the time this sees the text. */
  def rewriteBoxplotPlain(sql: String): String = {
    val toks = tokenize(sql)
    var i = 0
    while (i < toks.length) {
      if (toks(i).kind == TWord && toks(i).text.equalsIgnoreCase("BOXPLOT")) {
        val lp = nextNonWs(toks, i + 1)
        if (lp < toks.length && toks(lp).kind == TLParen) {
          val close = matchParen(toks, lp)
          if (close > lp) {
            val inner = render(toks.slice(lp + 1, close)).trim
            // only the single-argument form: a top-level comma means a
            // call shape this rewrite does not own (shouldn't occur —
            // the info form was already rewritten away)
            var d = 0
            var comma = false
            toks.slice(lp + 1, close).foreach { t =>
              t.kind match {
                case TLParen | TLBracket => d += 1
                case TRParen | TRBracket => d -= 1
                case TOther if t.text == "," && d == 0 => comma = true
                case _ =>
              }
            }
            if (!comma && inner.nonEmpty) {
              val v = s"CAST(($inner) AS DOUBLE)"
              val repl =
                s"named_struct('max', max($v), 'min', min($v), " +
                  "'outliers', CAST(array() AS ARRAY<STRUCT<value: DOUBLE, info: MAP<STRING,STRING>>>), " +
                  s"'q1', percentile($v, 0.25D), 'q2', percentile($v, 0.5D), " +
                  s"'q3', percentile($v, 0.75D))"
              return rewriteBoxplotPlain(
                render(toks.take(i)) + repl + render(toks.drop(close + 1)))
            }
          }
        }
      }
      i += 1
    }
    sql
  }

  /** DuckDB `USING SAMPLE n% / n PERCENT / n ROWS [(method[, seed])]`
    * → Spark `TABLESAMPLE (n PERCENT | n ROWS)`. The sampling METHOD
    * and seed are dropped (the engines' samplers differ anyway — a
    * seeded DuckDB sample and a seeded Spark sample never pick the
    * same rows, so only the statistical contract carries over;
    * deterministic sampling is d08's hash-threshold operator). */
  def rewriteUsingSample(sql: String): String = {
    val toks = tokenize(sql)
    var i = 0
    while (i < toks.length) {
      if (toks(i).kind == TWord && toks(i).text.equalsIgnoreCase("USING")) {
        val sIdx = nextNonWs(toks, i + 1)
        if (sIdx < toks.length && toks(sIdx).kind == TWord &&
            toks(sIdx).text.equalsIgnoreCase("SAMPLE")) {
          val nIdx = nextNonWs(toks, sIdx + 1)
          if (nIdx < toks.length && toks(nIdx).kind == TNum) {
            val n = toks(nIdx).text
            var after = nextNonWs(toks, nIdx + 1)
            val unit =
              if (after < toks.length && toks(after).kind == TOther &&
                  toks(after).text == "%") { after += 1; Some("PERCENT") }
              else if (after < toks.length && toks(after).kind == TWord &&
                  toks(after).text.equalsIgnoreCase("PERCENT")) {
                after = after + 1; Some("PERCENT")
              } else if (after < toks.length && toks(after).kind == TWord &&
                  toks(after).text.equalsIgnoreCase("ROWS")) {
                after = after + 1; Some("ROWS")
              } else Some("ROWS") // DuckDB: bare `USING SAMPLE 100` = rows
            // optional (method[, seed]) group
            val mIdx = nextNonWs(toks, after)
            val end =
              if (mIdx < toks.length && toks(mIdx).kind == TLParen) {
                val close = matchParen(toks, mIdx)
                if (close > mIdx) close + 1 else after
              } else after
            return rewriteUsingSample(
              render(toks.take(i)) + s"TABLESAMPLE ($n ${unit.get})" +
                render(toks.drop(end)))
          }
        }
      }
      i += 1
    }
    sql
  }

  private val fetchRe =
    "(?i)\\bFETCH\\s+(?:FIRST|NEXT)\\s+(\\d+)\\s+ROWS?\\s+ONLY\\b".r

  /** `FETCH FIRST n ROWS ONLY` → `LIMIT n` (Spark has no FETCH).
    * Quote-aware: the pattern inside a string literal is left untouched. */
  def rewriteFetch(sql: String): String =
    rewriteOutsideStrings(sql)(s => fetchRe.replaceAllIn(s, m => "LIMIT " + m.group(1)))

  /** DuckDB allows trailing commas in the SELECT list and in VALUES
    * lists (the reference's own starter template uses both,
    * ui/src/routes/new.tsx:52-61); Spark rejects them. Remove any comma
    * whose next non-whitespace token is FROM or `)` — never valid SQL
    * otherwise, so the removal cannot change meaning. */
  def rewriteTrailingComma(sql: String): String = {
    val toks = tokenize(sql)
    val drop = Array.fill(toks.length)(false)
    var i = 0
    while (i < toks.length) {
      if (toks(i).kind == TOther && toks(i).text == ",") {
        var j = i + 1
        while (j < toks.length && toks(j).kind == TWs) j += 1
        if (j < toks.length &&
            ((toks(j).kind == TWord && toks(j).text.equalsIgnoreCase("FROM")) ||
             toks(j).kind == TRParen)) drop(i) = true
      }
      i += 1
    }
    if (!drop.exists(identity)) sql
    else render(toks.zipWithIndex.collect { case (t, k) if !drop(k) => t })
  }

  /** DuckDB names the columns of a bare `FROM (VALUES ...)` subquery
    * col0, col1, …; Spark names them col1, col2 — and the reference's
    * starter template selects `col0`/`col1`. When such a subquery has
    * no alias, append `__v(col0, …, colN-1)` with the first tuple's
    * arity so the DuckDB names resolve. */
  def rewriteValuesAlias(sql: String): String = {
    var toks = tokenize(sql)
    var i = 0
    while (i < toks.length) {
      if (toks(i).kind == TWord && toks(i).text.equalsIgnoreCase("FROM")) {
        val lp = nextNonWs(toks, i + 1)
        if (lp < toks.length && toks(lp).kind == TLParen) {
          val inner = nextNonWs(toks, lp + 1)
          if (inner < toks.length && toks(inner).kind == TWord &&
              toks(inner).text.equalsIgnoreCase("VALUES")) {
            val close = matchParen(toks, lp)
            val after = if (close >= 0) nextNonWs(toks, close + 1) else toks.length
            val hasAlias = after < toks.length && (toks(after).kind == TQuoted ||
              (toks(after).kind == TWord && (toks(after).text.equalsIgnoreCase("AS") ||
                !isKeywordBarrier(toks(after).text) && !isClauseKeyword(toks(after).text))))
            if (close >= 0 && !hasAlias) {
              // arity = top-level commas + 1 inside the first tuple
              val t0 = nextNonWs(toks, inner + 1)
              if (t0 < toks.length && toks(t0).kind == TLParen) {
                val t0close = matchParen(toks, t0)
                var commas = 0
                var depth = 0
                var k = t0
                while (k <= t0close) {
                  toks(k).kind match {
                    case TLParen => depth += 1
                    case TRParen => depth -= 1
                    case TOther if toks(k).text == "," && depth == 1 => commas += 1
                    case _ =>
                  }
                  k += 1
                }
                val cols = (0 to commas).map(c => s"col$c").mkString(", ")
                toks = toks.take(close + 1) ++
                  Vector(Tok(TWs, " "), Tok(TWord, "__v"), Tok(TLParen, "("),
                    Tok(TWord, cols), Tok(TRParen, ")")) ++
                  toks.drop(close + 1)
              }
            }
          }
        }
      }
      i += 1
    }
    render(toks)
  }

  /** Clause keywords that terminate a FROM item (no alias present). */
  private def isClauseKeyword(w: String): Boolean = {
    val u = w.toUpperCase
    u == "WHERE" || u == "GROUP" || u == "ORDER" || u == "HAVING" ||
    u == "LIMIT" || u == "OFFSET" || u == "FETCH" || u == "QUALIFY" ||
    u == "UNION" || u == "INTERSECT" || u == "EXCEPT" || u == "JOIN" ||
    u == "LEFT" || u == "RIGHT" || u == "FULL" || u == "INNER" || u == "CROSS" ||
    u == "ON" || u == "WINDOW" ||
    // FROM-item followers that are not aliases either
    u == "PIVOT" || u == "UNPIVOT" || u == "TABLESAMPLE" || u == "USING" ||
    u == "LATERAL" || u == "NATURAL" || u == "SEMI" || u == "ANTI"
  }

  /** DuckDB interval shorthand (`INTERVAL '1h'`, `'7days 1hour'`) →
    * Spark's spaced long-unit form (`INTERVAL '1 hour'`). Only literal
    * strings directly after the INTERVAL keyword are touched, and only
    * when every `<number><unit>` component maps to a known unit. */
  def rewriteIntervalShorthand(sql: String): String = {
    val units = Map(
      "y" -> "year", "yr" -> "year", "yrs" -> "year", "year" -> "year", "years" -> "year",
      "mon" -> "month", "mons" -> "month", "month" -> "month", "months" -> "month",
      "w" -> "week", "week" -> "week", "weeks" -> "week",
      "d" -> "day", "day" -> "day", "days" -> "day",
      "h" -> "hour", "hr" -> "hour", "hrs" -> "hour", "hour" -> "hour", "hours" -> "hour",
      "min" -> "minute", "mins" -> "minute", "minute" -> "minute", "minutes" -> "minute",
      "s" -> "second", "sec" -> "second", "secs" -> "second",
      "second" -> "second", "seconds" -> "second",
      "ms" -> "millisecond", "msec" -> "millisecond",
      "millisecond" -> "millisecond", "milliseconds" -> "millisecond",
      "us" -> "microsecond", "usec" -> "microsecond",
      "microsecond" -> "microsecond", "microseconds" -> "microsecond")
    val component = "(\\d+)\\s*([a-zA-Z]+)".r
    val toks = tokenize(sql)
    val out = toks.zipWithIndex.map { case (t, i) =>
      val isIntervalString = t.kind == TString && {
        val p = prevNonWs(toks, i - 1)
        p >= 0 && toks(p).kind == TWord && toks(p).text.equalsIgnoreCase("INTERVAL")
      }
      if (!isIntervalString) t
      else {
        val body = unquoteString(t.text).trim
        val comps = component.findAllMatchIn(body).toSeq
        val wholeMatch = comps.nonEmpty &&
          component.replaceAllIn(body, "").trim.isEmpty &&
          comps.forall(m => units.contains(m.group(2).toLowerCase))
        if (!wholeMatch) t
        else {
          val spaced = comps.map(m => s"${m.group(1)} ${units(m.group(2).toLowerCase)}")
            .mkString(" ")
          Tok(TString, "'" + spaced + "'")
        }
      }
    }
    render(out)
  }

  private val strftimeCodes = Map(
    'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
    'H' -> "HH", 'I' -> "hh", 'M' -> "mm", 'S' -> "ss",
    'f' -> "SSSSSS", 'p' -> "a", 'j' -> "DDD",
    'a' -> "EEE", 'A' -> "EEEE", 'b' -> "MMM", 'B' -> "MMMM")

  /** C strftime format → Java DateTimeFormatter pattern; None when a
    * code has no safe Java equivalent (caller leaves the SQL as-is). */
  private def cFormatToJava(fmt: String): Option[String] = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%') {
        if (i + 1 >= fmt.length) return None
        val code = fmt.charAt(i + 1)
        if (code == '%') sb.append('%')
        else strftimeCodes.get(code) match {
          case Some(j) => sb.append(j)
          case None => return None
        }
        i += 2
      } else if (c.isLetter) { sb.append('\'').append(c).append('\''); i += 1 }
      else if (c == '\'') { sb.append("''"); i += 1 }
      else { sb.append(c); i += 1 }
    }
    Some(sb.toString)
  }

  /** DuckDB `strftime(ts, '%Y-%m-%d')` → Spark `date_format(ts,
    * 'yyyy-MM-dd')`. Only rewrites when the second argument is a string
    * literal whose every %-code maps cleanly; otherwise the call is
    * left untouched (and fails analysis loudly rather than silently
    * reformatting wrong). */
  def rewriteStrftime(sql: String): String = {
    val toks = tokenize(sql)
    var i = 0
    while (i < toks.length) {
      if (toks(i).kind == TWord && toks(i).text.equalsIgnoreCase("strftime")) {
        var lp = i + 1
        while (lp < toks.length && toks(lp).kind == TWs) lp += 1
        if (lp < toks.length && toks(lp).kind == TLParen) {
          var depth = 0
          var close = -1
          var lastComma = -1
          var k = lp
          while (k < toks.length && close < 0) {
            toks(k).kind match {
              case TLParen | TLBracket => depth += 1
              case TRParen | TRBracket =>
                depth -= 1
                if (depth == 0 && toks(k).kind == TRParen) close = k
              case TOther if toks(k).text == "," && depth == 1 => lastComma = k
              case _ =>
            }
            k += 1
          }
          if (close > 0 && lastComma > 0) {
            var fmtIdx = lastComma + 1
            while (fmtIdx < close && toks(fmtIdx).kind == TWs) fmtIdx += 1
            val onlyString = fmtIdx < close &&
              toks(fmtIdx).kind == TString &&
              (fmtIdx + 1 until close).forall(toks(_).kind == TWs)
            if (onlyString) {
              cFormatToJava(unquoteString(toks(fmtIdx).text)) match {
                case Some(javaFmt) =>
                  val rebuilt = render(toks.take(i)) + "date_format" +
                    render(toks.slice(lp, lastComma + 1)) +
                    " '" + javaFmt.replace("'", "''") + "'" +
                    render(toks.slice(close, toks.length))
                  return rewriteStrftime(rebuilt)
                case None => ()
              }
            }
          }
        }
      }
      i += 1
    }
    sql
  }

  /** DuckDB `* EXCLUDE (cols)` → Spark `* EXCEPT (cols)` (same
    * semantics, different keyword). Only rewrites EXCLUDE directly
    * after a `*`. */
  def rewriteStarExclude(sql: String): String = {
    val toks = tokenize(sql)
    val out = toks.zipWithIndex.map { case (t, i) =>
      if (t.kind == TWord && t.text.equalsIgnoreCase("EXCLUDE")) {
        val p = prevNonWs(toks, i - 1)
        if (p >= 0 && toks(p).text == "*") Tok(TWord, "EXCEPT") else t
      } else t
    }
    render(out)
  }

  /** DuckDB `* REPLACE (expr AS col, …)` → `* EXCEPT (col, …), expr AS
    * col, …`. KNOWN DIVERGENCE: replaced columns move to the end of the
    * projection (DuckDB keeps their original position), which is
    * user-visible in rendered tables and CSV/JSON downloads — restoring
    * position would need the input schema, which a token-level rewrite
    * doesn't have. */
  def rewriteStarReplace(sql: String): String = {
    val toks = tokenize(sql)
    var i = 0
    while (i < toks.length) {
      if (toks(i).kind == TWord && toks(i).text.equalsIgnoreCase("REPLACE")) {
        val p = prevNonWs(toks, i - 1)
        var lp = i + 1
        while (lp < toks.length && toks(lp).kind == TWs) lp += 1
        // the `*` must be a star projection, not multiplication: it
        // directly follows SELECT / DISTINCT / a comma / a qualifying
        // dot (`t.*`) or starts the text
        val isStarProjection = p >= 0 && toks(p).text == "*" && {
          val p2 = prevNonWs(toks, p - 1)
          p2 < 0 || toks(p2).kind == TDot ||
            (toks(p2).kind == TOther && toks(p2).text == ",") ||
            (toks(p2).kind == TWord && (toks(p2).text.equalsIgnoreCase("SELECT") ||
              toks(p2).text.equalsIgnoreCase("DISTINCT")))
        }
        if (isStarProjection && lp < toks.length && toks(lp).kind == TLParen) {
          // find matching close + split top-level commas
          var depth = 0
          var close = -1
          var k = lp
          while (k < toks.length && close < 0) {
            toks(k).kind match {
              case TLParen => depth += 1
              case TRParen => depth -= 1; if (depth == 0) close = k
              case _ =>
            }
            k += 1
          }
          if (close > lp) {
            val inner = toks.slice(lp + 1, close)
            val parts = {
              val acc = Vector.newBuilder[Vector[Tok]]
              var cur = Vector.newBuilder[Tok]
              var d = 0
              inner.foreach { t =>
                t.kind match {
                  case TLParen | TLBracket => d += 1; cur += t
                  case TRParen | TRBracket => d -= 1; cur += t
                  case TOther if t.text == "," && d == 0 =>
                    acc += cur.result(); cur = Vector.newBuilder[Tok]
                  case _ => cur += t
                }
              }
              acc += cur.result()
              acc.result()
            }
            // each part: <expr> AS <name>; name follows the last
            // TOP-LEVEL AS (an AS inside cast(... AS int) sits at
            // paren depth > 0 and must not split the part)
            val names = parts.map { part =>
              var d = 0
              var asIdx = -1
              part.zipWithIndex.foreach { case (t, k) =>
                t.kind match {
                  case TLParen | TLBracket => d += 1
                  case TRParen | TRBracket => d -= 1
                  case TWord if d == 0 && t.text.equalsIgnoreCase("AS") => asIdx = k
                  case _ =>
                }
              }
              if (asIdx < 0) return sql // malformed: leave untouched
              render(part.drop(asIdx + 1)).trim
            }
            val replacement = "EXCEPT (" + names.mkString(", ") + "), " +
              parts.map(p => render(p).trim).mkString(", ")
            return rewriteStarReplace(
              render(toks.take(i)) + replacement + render(toks.drop(close + 1)))
          }
        }
      }
      i += 1
    }
    sql
  }

  /** DuckDB/Postgres `SELECT DISTINCT ON (keys) list FROM … [ORDER BY
    * ord] [LIMIT …]` → first-row-per-key via row_number:
    * {{{
    * SELECT list FROM (SELECT *, row_number() OVER (PARTITION BY keys
    *   ORDER BY ord-or-keys) AS __rn FROM …) __d WHERE __rn = 1
    *   [ORDER BY ord] [LIMIT …]
    * }}}
    * The ORDER BY must reference input columns (not select aliases) —
    * the same restriction DuckDB's own docs give for deterministic
    * DISTINCT ON. */
  def rewriteDistinctOn(sql: String): String = {
    val toks = tokenize(sql)
    // locate top-level SELECT DISTINCT ON (
    var depth = 0
    var selIdx = -1
    var i = 0
    while (i < toks.length && selIdx < 0) {
      toks(i).kind match {
        case TLParen | TLBracket => depth += 1
        case TRParen | TRBracket => depth -= 1
        case TWord if depth == 0 && toks(i).text.equalsIgnoreCase("SELECT") => selIdx = i
        case _ =>
      }
      i += 1
    }
    if (selIdx < 0) return sql
    val dIdx = nextNonWs(toks, selIdx + 1)
    if (dIdx >= toks.length || !toks(dIdx).text.equalsIgnoreCase("DISTINCT")) return sql
    val onIdx = nextNonWs(toks, dIdx + 1)
    if (onIdx >= toks.length || !toks(onIdx).text.equalsIgnoreCase("ON")) return sql
    val lp = nextNonWs(toks, onIdx + 1)
    if (lp >= toks.length || toks(lp).kind != TLParen) return sql
    var close = -1
    depth = 0
    i = lp
    while (i < toks.length && close < 0) {
      toks(i).kind match {
        case TLParen => depth += 1
        case TRParen => depth -= 1; if (depth == 0) close = i
        case _ =>
      }
      i += 1
    }
    if (close < 0) return sql
    val keys = render(toks.slice(lp + 1, close)).trim
    // clause boundaries after the key list
    depth = 0
    var fromIdx = -1
    var orderIdx = -1
    var tailIdx = toks.length // LIMIT / OFFSET / FETCH
    i = close + 1
    while (i < toks.length) {
      toks(i).kind match {
        case TLParen | TLBracket => depth += 1
        case TRParen | TRBracket => depth -= 1
        case TWord if depth == 0 =>
          val u = toks(i).text.toUpperCase
          if (u == "FROM" && fromIdx < 0) fromIdx = i
          if (u == "ORDER" && orderIdx < 0) orderIdx = i
          if ((u == "LIMIT" || u == "OFFSET" || u == "FETCH") && tailIdx == toks.length)
            tailIdx = i
        case _ =>
      }
      i += 1
    }
    if (fromIdx < 0) return sql
    val list = render(toks.slice(close + 1, fromIdx)).trim
    val fromEnd = if (orderIdx >= 0) orderIdx else tailIdx
    val fromRest = render(toks.slice(fromIdx, fromEnd)).trim
    val orderClause =
      if (orderIdx >= 0) render(toks.slice(orderIdx, tailIdx)).trim else ""
    val tail = render(toks.slice(tailIdx, toks.length)).trim
    val windowOrder =
      if (orderIdx >= 0) orderClause.replaceAll("(?i)^ORDER\\s+BY\\s+", "") else keys
    val prefix = render(toks.take(selIdx)) // leading WITH ctes etc.
    (prefix + s"SELECT $list FROM (SELECT *, row_number() OVER (PARTITION BY $keys " +
      s"ORDER BY $windowOrder) AS __rn $fromRest) __d WHERE __rn = 1 " +
      s"$orderClause $tail").trim
  }

  /** DuckDB `QUALIFY <pred>` (window filter; Spark has no QUALIFY) →
    * wrap the select with the predicate as a projected flag:
    * {{{
    * SELECT <list> FROM ... QUALIFY p [ORDER BY o] [LIMIT n]
    *   → SELECT * EXCEPT (__qualify)
    *     FROM (SELECT <list>, (p) AS __qualify FROM ...) __q
    *     WHERE __qualify [ORDER BY o] [LIMIT n]
    * }}}
    * The predicate is injected into the inner select list (before the
    * top-level FROM), so it can reference any input column or a select
    * alias (Spark's lateral column aliases resolve those). Top-level
    * QUALIFY only — subquery QUALIFY is out of scope, like the
    * reference's own dialect shims. */
  def rewriteQualify(sql: String): String = {
    val toks = tokenize(sql)
    // QUALIFY binds to the LAST select branch (set operations chain at
    // lower precedence), so anchor on the last top-level SELECT before
    // QUALIFY and the first top-level FROM after it — earlier UNION/
    // INTERSECT/EXCEPT branches pass through untouched
    var depth = 0
    var qIdx = -1
    var selIdx = -1
    var fromIdx = -1
    var i = 0
    while (i < toks.length && qIdx < 0) {
      toks(i).kind match {
        case TLParen | TLBracket => depth += 1
        case TRParen | TRBracket => depth -= 1
        case TWord if depth == 0 =>
          val u = toks(i).text.toUpperCase
          if (u == "SELECT") { selIdx = i; fromIdx = -1 }
          if (u == "FROM" && fromIdx < 0) fromIdx = i
          if (u == "QUALIFY") qIdx = i
        case _ =>
      }
      i += 1
    }
    if (qIdx < 0 || selIdx < 0 || fromIdx < 0 || fromIdx > qIdx) return sql
    // predicate runs until a top-level ORDER / LIMIT / OFFSET / FETCH
    depth = 0
    var predEnd = toks.length
    i = qIdx + 1
    while (i < toks.length && predEnd == toks.length) {
      toks(i).kind match {
        case TLParen | TLBracket => depth += 1
        case TRParen | TRBracket => depth -= 1
        case TWord if depth == 0 =>
          val u = toks(i).text.toUpperCase
          if (u == "ORDER" || u == "LIMIT" || u == "OFFSET" || u == "FETCH")
            predEnd = i
        case _ =>
      }
      i += 1
    }
    val pred = render(toks.slice(qIdx + 1, predEnd)).trim
    val prefix = render(toks.slice(0, selIdx)) // CTEs + earlier set-op branches
    val selectList = render(toks.slice(selIdx, fromIdx))
    val fromToQualify = render(toks.slice(fromIdx, qIdx))
    val tail = render(toks.slice(predEnd, toks.length))
    (prefix +
      s"SELECT * EXCEPT (__qualify) FROM ($selectList, ($pred) AS __qualify $fromToQualify) __q WHERE __qualify $tail").trim
  }

  /** The structural passes, in order (see the object's doc). */
  private[graft] def passes(sql: String): String = {
    var s = sql
    s = rewriteListComprehension(s)
    s = rewriteArrayLiterals(s)
    s = rewriteStructLiterals(s)
    s = rewriteShaperCasts(s)
    s = rewriteTimestampTz(s)
    s = rewriteCountStar(s)
    s = rewriteCatalogTableFns(s)
    s = rewriteBoxplotInfo(s)
    s = rewriteBoxplotPlain(s)
    s = rewriteListUnique(s)
    s = rewriteListSlice(s)
    s = rewriteFunctionNames(s)
    s = rewriteStrftime(s)
    s = rewriteTrailingComma(s)
    s = rewriteValuesAlias(s)
    s = rewriteIntervalShorthand(s)
    s = rewriteFetch(s)
    s = rewriteUsingSample(s)
    s = rewriteFromFirst(s)
    s = rewriteStarExclude(s)
    s = rewriteStarReplace(s)
    s = rewriteDistinctOn(s)
    s = rewriteQualify(s)
    s
  }

  /** Full rewrite of one statement: its memoized template bound to `vars`. */
  def rewrite(sql: String, vars: String => Option[String] = _ => None): String =
    templates(sql).template.bind(vars)
}
