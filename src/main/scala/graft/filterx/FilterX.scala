package graft.filterx

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Templates

/** FilterX — the reference's typed per-message expression language
  * (reference lib/filterx/: grammar filterx-grammar.ym, statement execution
  * filterx-eval.c:189 `filterx_eval_exec_statements`, comparison semantics
  * expr-comparison.c:127-210, truthiness object-string.c:81 /
  * object-primitive.c:41, conditionals expr-condition.c:38).
  *
  * Execution model (filterx-pipe.c:46-80): a `filterx { stmt; ... }` block
  * runs per message; statements evaluate in order; an assignment's value is
  * ignored (expr-assign.c:54 ignore_falsy_result) but any OTHER statement
  * evaluating falsy (or erroring) makes the message UNMATCHED — it is
  * dropped from the path and no variable writes are stored
  * (filterx-eval.c:202 "only store the results if the entire evaluation was
  * successful").
  *
  * Spark-first compilation: the whole block folds into ONE projection +
  * ONE predicate over the input frame. Message variables and block-local
  * (floating) variables live in a compile-time environment of Column
  * expressions, so "sequential" statement semantics become pure expression
  * substitution — a statement after an assignment sees the assigned
  * expression, conditionals become `when()` guards threaded through the
  * walk, and nothing is materialized until the final select. The entire
  * block stays inside whole-stage codegen; there is no UDF and no
  * per-statement pass over the data.
  *
  * Typing: the reference's runtime FilterXObject types map to compile-time
  * `FxType` tags backed by typed Spark columns — string/integer/double/
  * boolean/null/datetime exactly; `json` is a string column holding JSON
  * text (scalars read out of it are dynamically typed, compared numerically
  * against numbers and textually against strings, mirroring how getattr on
  * a json object unwraps primitives); dict/list literals are compile-time
  * trees of Columns materialized to JSON text only when stored to a message
  * variable (the reference marshals json values the same way).
  *
  * Declared divergences, each chosen for deterministic distributed
  * execution: (1) reading an unknown message variable is a compile error
  * (the reference fails at eval time per message); (2) a runtime NULL in a
  * typed column behaves like the reference's eval error — predicates on it
  * drop the row; (3) `declare` scope is one block unless the caller chains
  * `Compiled.declared` into the next block's `inherited`.
  */
object FilterX {

  // ------------------------------------------------------------------ AST

  private[filterx] object Ast {
    sealed trait Expr
    final case class IntLit(v: Long) extends Expr
    final case class DblLit(v: Double) extends Expr
    final case class BoolLit(v: Boolean) extends Expr
    case object NullLit extends Expr
    /** Double-quoted strings are templates (grammar `template: LL_STRING`,
      * construct_template_expr); single-quoted are literal.
      */
    final case class StrLit(raw: String, template: Boolean) extends Expr
    final case class MsgVar(name: String) extends Expr
    final case class FloatVar(name: String) extends Expr
    final case class GetAttr(e: Expr, name: String) extends Expr
    /** key == None is the `[]` append form (set-subscript with NULL key). */
    final case class GetSub(e: Expr, key: Option[Expr]) extends Expr
    final case class Not(e: Expr) extends Expr
    final case class And(l: Expr, r: Expr) extends Expr
    final case class Or(l: Expr, r: Expr) extends Expr
    /** op: FCMPX bits (EQ=1 LT=2 GT=4, NE=LT|GT=6 — expr-comparison.h:28).
      * mode: 0 type-aware, 1 string-based, 2 type-and-value.
      */
    final case class Cmp(l: Expr, r: Expr, op: Int, mode: Int) extends Expr
    final case class Regex(e: Expr, pattern: String) extends Expr
    final case class Ternary(cond: Expr, t: Option[Expr], f: Expr) extends Expr
    final case class Func(name: String, args: Seq[Expr]) extends Expr
    /** `name=expr` inside a call's argument list (the reference's generic
      * named function arguments, lib/filterx/expr-function.c arg kwargs). */
    final case class NamedArg(name: String, value: Expr) extends Expr
    final case class IsSet(e: Expr) extends Expr
    final case class UnsetE(e: Expr) extends Expr
    final case class DictGen(entries: Seq[(Expr, Expr)]) extends Expr
    final case class ListGen(items: Seq[Expr]) extends Expr

    sealed trait Stmt
    final case class ExprStmt(e: Expr) extends Stmt
    final case class Assign(lhs: Expr, rhs: Expr) extends Stmt
    /** `lhs += generator` (grammar generator_assignment): append the
      * generated elements to an existing list.
      */
    final case class AppendAssign(lhs: Expr, rhs: Expr) extends Stmt
    final case class Declare(name: String, rhs: Expr) extends Stmt
    final case class IfStmt(branches: Seq[(Expr, Seq[Stmt])], otherwise: Seq[Stmt]) extends Stmt
  }

  // ------------------------------------------------------------ tokenizer

  private sealed trait Tok
  private final case class TIdent(s: String) extends Tok
  private final case class TMsgRef(s: String) extends Tok
  private final case class TInt(v: Long) extends Tok
  private final case class TDbl(v: Double) extends Tok
  private final case class TStr(s: String, template: Boolean) extends Tok
  private final case class TOp(s: String) extends Tok

  private val multiOps = Seq("===", "!==", "=~", "==", "!=", "<=", ">=", "+=")

  private def tokenize(text: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '#') { while (i < n && text.charAt(i) != '\n') i += 1 }
      else if (c == '"' || c == '\'') {
        val sb = new java.lang.StringBuilder
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          val d = text.charAt(j)
          if (d == '\\' && j + 1 < n) {
            text.charAt(j + 1) match {
              case 'n' => sb.append('\n'); case 't' => sb.append('\t')
              case 'r' => sb.append('\r'); case other => sb.append(other)
            }
            j += 2
          } else if (d == c) { closed = true; j += 1 }
          else { sb.append(d); j += 1 }
        }
        require(closed, s"filterx: unterminated string at offset $i")
        out += TStr(sb.toString, template = c == '"')
        i = j
      } else if (c == '$') {
        if (i + 1 < n && text.charAt(i + 1) == '{') {
          val close = text.indexOf('}', i + 2)
          require(close > 0, s"filterx: unterminated $${ at $i")
          out += TMsgRef(text.substring(i + 2, close)); i = close + 1
        } else {
          var j = i + 1
          while (j < n && (text.charAt(j).isLetterOrDigit || text.charAt(j) == '_')) j += 1
          require(j > i + 1, s"filterx: bare $$ at offset $i")
          out += TMsgRef(text.substring(i + 1, j)); i = j
        }
      } else if (c.isDigit ||
        ((c == '-' || c == '+') && i + 1 < n && text.charAt(i + 1).isDigit)) {
        var j = if (c == '-' || c == '+') i + 1 else i
        while (j < n && text.charAt(j).isDigit) j += 1
        if (j < n && text.charAt(j) == '.' && j + 1 < n && text.charAt(j + 1).isDigit) {
          j += 1
          while (j < n && text.charAt(j).isDigit) j += 1
          out += TDbl(text.substring(i, j).toDouble)
        } else if (j < n && (text.charAt(j) == 'x' || text.charAt(j) == 'X') &&
          text.charAt(i) == '0' && j == i + 1) {
          j += 1; val h0 = j
          while (j < n && Character.digit(text.charAt(j), 16) >= 0) j += 1
          out += TInt(java.lang.Long.parseLong(text.substring(h0, j), 16))
        } else out += TInt(text.substring(i, j).toLong)
        i = j
      } else if (c.isLetter || c == '_') {
        var j = i
        while (j < n && (text.charAt(j).isLetterOrDigit || text.charAt(j) == '_')) j += 1
        out += TIdent(text.substring(i, j)); i = j
      } else {
        multiOps.find(op => text.startsWith(op, i)) match {
          case Some(op) => out += TOp(op); i += op.length
          case None     => out += TOp(c.toString); i += 1
        }
      }
    }
    out.result()
  }

  // --------------------------------------------------------------- parser

  private final class Parser(toks: Vector[Tok]) {
    import Ast._
    private var pos = 0
    private def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    private def peekAt(k: Int): Option[Tok] =
      if (pos + k < toks.length) Some(toks(pos + k)) else None
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def eatOp(s: String): Boolean =
      peek.contains(TOp(s)) && { pos += 1; true }
    private def expectOp(s: String): Unit =
      require(eatOp(s), s"filterx: expected '$s' but found ${peek.getOrElse("<eof>")}")

    def parseProgram(): Seq[Stmt] = {
      val stmts = Seq.newBuilder[Stmt]
      while (peek.isDefined) stmts ++= parseStmt()
      stmts.result()
    }

    private def parseBlock(): Seq[Stmt] = {
      expectOp("{")
      val stmts = Seq.newBuilder[Stmt]
      while (!peek.contains(TOp("}"))) stmts ++= parseStmt()
      expectOp("}")
      stmts.result()
    }

    private def parseStmt(): Seq[Stmt] = peek match {
      case Some(TOp(";")) => next(); Nil
      case Some(TIdent("if")) =>
        next()
        val branches = Seq.newBuilder[(Expr, Seq[Stmt])]
        expectOp("("); val c0 = parseExpr(); expectOp(")")
        branches += c0 -> parseBlock()
        var otherwise: Seq[Stmt] = Nil
        var done = false
        while (!done) peek match {
          case Some(TIdent("elif")) =>
            next(); expectOp("("); val c = parseExpr(); expectOp(")")
            branches += c -> parseBlock()
          case Some(TIdent("else")) =>
            next(); otherwise = parseBlock(); done = true
          case _ => done = true
        }
        eatOp(";")
        Seq(IfStmt(branches.result(), otherwise))
      case Some(TIdent("declare")) =>
        next()
        val name = next() match {
          case TIdent(s) => s
          case other     => sys.error(s"filterx: declare expects a variable name, got $other")
        }
        expectOp("="); val rhs = parseExpr(); expectOp(";")
        Seq(Declare(name, rhs))
      case _ =>
        val e = parseExpr()
        val s =
          if (eatOp("=")) Assign(e, parseExpr())
          else if (eatOp("+=")) AppendAssign(e, parseExpr())
          else ExprStmt(e)
        expectOp(";")
        Seq(s)
    }

    // precedence (filterx-grammar.ym via cfg-grammar.y %left ladder):
    // ternary < or < and < not < comparison/=~ < postfix(. []) < primary
    def parseExpr(): Expr = parseTernary()

    private def parseTernary(): Expr = {
      val c = parseOr()
      if (eatOp("?")) {
        if (eatOp(":")) Ternary(c, None, parseTernary()) // elvis `c ?: f`
        else {
          val t = parseExpr()
          expectOp(":")
          Ternary(c, Some(t), parseTernary())
        }
      } else c
    }

    private def parseOr(): Expr = {
      var e = parseAnd()
      while (peek.contains(TIdent("or"))) { next(); e = Or(e, parseAnd()) }
      e
    }

    private def parseAnd(): Expr = {
      var e = parseNot()
      while (peek.contains(TIdent("and"))) { next(); e = And(e, parseNot()) }
      e
    }

    private def parseNot(): Expr =
      if (peek.contains(TIdent("not"))) { next(); Not(parseNot()) }
      else parseCmp()

    private val strOps = Map("lt" -> 2, "le" -> 3, "eq" -> 1, "ne" -> 6, "ge" -> 5, "gt" -> 4)
    private val taOps = Map("<" -> 2, "<=" -> 3, "==" -> 1, "!=" -> 6, ">=" -> 5, ">" -> 4)

    private def parseCmp(): Expr = {
      val l = parsePostfix()
      peek match {
        case Some(TOp(op)) if taOps.contains(op) =>
          next(); Cmp(l, parsePostfix(), taOps(op), 0)
        case Some(TOp("===")) => next(); Cmp(l, parsePostfix(), 1, 2)
        case Some(TOp("!==")) => next(); Cmp(l, parsePostfix(), 6, 2)
        case Some(TIdent(op)) if strOps.contains(op) =>
          next(); Cmp(l, parsePostfix(), strOps(op), 1)
        case Some(TOp("=~")) =>
          next()
          next() match {
            case TStr(p, _) => Regex(l, p)
            case other      => sys.error(s"filterx: =~ needs a string pattern, got $other")
          }
        case _ => l
      }
    }

    private def parsePostfix(): Expr = {
      var e = parsePrimary()
      var going = true
      while (going) peek match {
        case Some(TOp(".")) =>
          next()
          next() match {
            case TIdent(name) => e = GetAttr(e, name)
            case other        => sys.error(s"filterx: expected attribute name after '.', got $other")
          }
        case Some(TOp("[")) =>
          next()
          if (eatOp("]")) e = GetSub(e, None)
          else { val k = parseExpr(); expectOp("]"); e = GetSub(e, Some(k)) }
        case _ => going = false
      }
      e
    }

    private def parsePrimary(): Expr = next() match {
      case TInt(v)       => IntLit(v)
      case TDbl(v)       => DblLit(v)
      case TStr(s, tpl)  => StrLit(s, tpl)
      case TMsgRef(name) => MsgVar(name)
      case TIdent("true")  => BoolLit(true)
      case TIdent("false") => BoolLit(false)
      case TIdent("null")  => NullLit
      case TIdent("isset") => expectOp("("); val e = parseExpr(); expectOp(")"); IsSet(e)
      case TIdent("unset") => expectOp("("); val e = parseExpr(); expectOp(")"); UnsetE(e)
      case TIdent(name) if peek.contains(TOp("(")) =>
        next()
        val args = Seq.newBuilder[Expr]
        def arg(): Unit = (peek, peekAt(1)) match {
          // `ident = expr` named argument (unambiguous: comparison is `==`)
          case (Some(TIdent(n)), Some(TOp("="))) =>
            next(); next(); args += NamedArg(n, parseExpr())
          case _ => args += parseExpr()
        }
        if (!eatOp(")")) {
          arg()
          while (eatOp(",")) arg()
          expectOp(")")
        }
        Func(name, args.result())
      case TIdent(name) => FloatVar(name)
      case TOp("(")     => val e = parseExpr(); expectOp(")"); e
      case TOp("{") => // trailing commas allowed (light-suite json literals)
        val entries = Seq.newBuilder[(Expr, Expr)]
        if (!eatOp("}")) {
          def entry(): Unit = { val k = parseExpr(); expectOp(":"); entries += k -> parseExpr() }
          entry()
          while (eatOp(",") && !peek.contains(TOp("}"))) entry()
          expectOp("}")
        }
        DictGen(entries.result())
      case TOp("[") =>
        val items = Seq.newBuilder[Expr]
        if (!eatOp("]")) {
          items += parseExpr()
          while (eatOp(",") && !peek.contains(TOp("]"))) items += parseExpr()
          expectOp("]")
        }
        ListGen(items.result())
      case other => sys.error(s"filterx: unexpected token $other")
    }
  }

  // --------------------------------------------------------- value model

  /** Compile-time type tag — the analog of the reference's FilterXType. */
  sealed trait FxType
  case object FxString extends FxType
  case object FxInt extends FxType
  case object FxDouble extends FxType
  case object FxBool extends FxType
  case object FxNull extends FxType
  case object FxDatetime extends FxType
  /** JSON text in a string column; scalars read from it are dynamic. */
  case object FxJson extends FxType
  /** Raw byte sequence (BinaryType column) — reference object-string.c
    * bytes type: repr = lowercase hex (object-string.c:182-191),
    * format_json/dict-store = base64 (filterx-format-json.c:126-152). */
  case object FxBytes extends FxType
  /** Protobuf-tagged byte sequence — the reference's protobuf type shares
    * the bytes vtable verbatim (object-string.c:314-320: same marshal /
    * len / map_to_json / truthy / hex repr); only the TYPE IDENTITY
    * differs (istype, typecast admission rules object-string.c:269-293).
    * No schema is attached at this layer — schema-bound decoding lives in
    * the grpc/otel connector (declared out with the connector zoo). */
  case object FxProtobuf extends FxType

  sealed trait FxVal
  final case class FxScalar(c: Column, t: FxType) extends FxVal
  final case class FxDict(entries: ListMap[String, FxVal]) extends FxVal
  final case class FxList(items: Vector[FxVal]) extends FxVal

  private def fxTypeOf(dt: DataType): FxType = dt match {
    case StringType                          => FxString
    case LongType | IntegerType | ShortType | ByteType => FxInt
    case DoubleType | FloatType | _: DecimalType       => FxDouble
    case BooleanType                         => FxBool
    case TimestampType | TimestampNTZType | DateType   => FxDatetime
    case NullType                            => FxNull
    case _                                   => FxString // arrays/maps read as JSON text
  }

  private def sparkTypeOf(t: FxType): DataType = t match {
    case FxString | FxJson => StringType
    case FxInt             => LongType
    case FxDouble          => DoubleType
    case FxBool            => BooleanType
    case FxNull            => StringType
    case FxDatetime        => TimestampNTZType
    case FxBytes | FxProtobuf => BinaryType
  }

  // ------------------------------------------------- marshaling helpers

  /** String representation — the reference's filterx_object_marshal
    * (object-string.c:88 raw text, object-primitive.c bool "true"/"false",
    * object-null.c:51 "null", json marshals to its text).
    */
  private def strRepr(v: FxVal): Column = v match {
    case FxScalar(c, FxString | FxJson) => c
    case FxScalar(c, FxInt)             => c.cast(StringType)
    case FxScalar(c, FxDouble)          => c.cast(StringType)
    case FxScalar(c, FxBool)            => when(c, "true").otherwise("false")
    case FxScalar(_, FxNull)            => lit("null")
    case FxScalar(c, FxDatetime)        => date_format(c, "yyyy-MM-dd'T'HH:mm:ss")
    case FxScalar(c, FxBytes | FxProtobuf) => lower(hex(c)) // _bytes_repr hex
    case d: FxDict                      => jsonText(d)
    case l: FxList                      => listRepr(l)
  }

  /** Top-level lists marshal as syslog-ng LIST values — comma-separated
    * with `"` quoting of elements containing a comma/quote/space (the
    * reference's list-scanner str_repr; light-suite
    * test_list_literal_becomes_syslogng_list_as_string) — while lists
    * NESTED in a dict stay JSON arrays (treeCol path).
    */
  private def listRepr(l: FxList): Column = {
    val parts = l.items.map { item =>
      val v = strRepr(item)
      when(v.rlike("[, \"]"),
        concat(lit("\""),
          regexp_replace(regexp_replace(v, "\\\\", "\\\\\\\\"), "\"", "\\\\\""),
          lit("\"")))
        .otherwise(v)
    }
    concat_ws(",", parts: _*)
  }

  /** Truthiness (object-string.c:81 len>0, object-primitive.c:41 != 0,
    * object-null falsy, dict/list truthy iff non-empty). NULL-safe: a
    * runtime NULL is falsy (reference: eval error → unmatched).
    */
  private def truthy(v: FxVal): Column = v match {
    case FxScalar(c, FxJson) => // empty containers are falsy like the reference
      coalesce(length(c) > 0 && !c.isin("[]", "{}", "null"), lit(false))
    case FxScalar(c, FxString) => coalesce(length(c) > 0, lit(false))
    case FxScalar(c, FxInt)             => coalesce(c =!= 0L, lit(false))
    case FxScalar(c, FxDouble)          => coalesce(c =!= 0.0, lit(false))
    case FxScalar(c, FxBool)            => coalesce(c, lit(false))
    case FxScalar(_, FxNull)            => lit(false)
    case FxScalar(c, FxDatetime)        => c.isNotNull
    case FxScalar(c, FxBytes | FxProtobuf) => coalesce(length(c) > 0, lit(false))
    case FxDict(m)                      => lit(m.nonEmpty)
    case FxList(xs)                     => lit(xs.nonEmpty)
  }

  /** Spark-typed (struct/array/scalar) column for embedding a compile-time
    * dict/list tree into to_json.
    */
  private def treeCol(v: FxVal): Column = v match {
    case FxScalar(c, _) => c
    case FxDict(m) =>
      struct(m.toSeq.map { case (k, e) => treeCol(e).as(k) }: _*)
    case FxList(xs) =>
      val scalarTypes = xs.collect { case FxScalar(_, t) => t }.distinct
      if (xs.isEmpty) array().cast(ArrayType(StringType))
      else if (xs.forall(_.isInstanceOf[FxScalar]) && scalarTypes.length == 1)
        array(xs.map(treeCol): _*)
      else if (xs.forall(_.isInstanceOf[FxDict]))
        array(xs.map(treeCol): _*)
      else array(xs.map(strRepr): _*) // mixed-type list: string elements
  }

  /** Marshal a dict/list tree to JSON text (the reference marshals json
    * objects the same way when stored to a message value). ignoreNullFields
    * off so NULL entries serialize as JSON null like the reference.
    */
  private def jsonText(v: FxVal): Column =
    to_json(treeCol(v), Map("ignoreNullFields" -> "false").asJava)

  private implicit class MapOps(m: Map[String, String]) {
    def asJava: java.util.Map[String, String] = {
      val jm = new java.util.HashMap[String, String]()
      m.foreach { case (k, v) => jm.put(k, v) }
      jm
    }
  }

  /** Capture-group index → name for `(?<name>…)` groups. Counts plain
    * `(` groups, skips `(?:`/lookarounds and escaped parens. (A literal
    * `(` inside a character class would miscount — not a pattern the
    * reference tests use.)
    */
  private def namedGroups(p: String): Map[Int, String] = {
    val out = Map.newBuilder[Int, String]
    var idx = 0
    var i = 0
    while (i < p.length) {
      if (p.charAt(i) == '\\') i += 2
      else if (p.charAt(i) == '(') {
        if (i + 3 < p.length && p.charAt(i + 1) == '?' && p.charAt(i + 2) == '<' &&
          p.charAt(i + 3) != '=' && p.charAt(i + 3) != '!') {
          idx += 1
          val close = p.indexOf('>', i + 3)
          require(close > 0, s"filterx: malformed named group in $p")
          out += idx -> p.substring(i + 3, close)
          i = close + 1
        } else if (i + 1 < p.length && p.charAt(i + 1) == '?') i += 2
        else { idx += 1; i += 1 }
      } else i += 1
    }
    out.result()
  }

  /** JSON string-literal quoting for strings built inside scalar UDFs. */
  private def jsonQuote(s: String): String = {
    val sb = new java.lang.StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append("\"").toString
  }

  /** Driver-side JSON → FilterX literal tree (cache_json_file). */
  private def jsonToFx(v: org.json4s.JValue): FxVal = {
    import org.json4s._
    v match {
      case JObject(fields) =>
        FxDict(ListMap(fields.map { case (k, fv) => k -> jsonToFx(fv) }: _*))
      case JArray(items)   => FxList(items.map(jsonToFx).toVector)
      case JString(s)      => FxScalar(lit(s), FxString)
      case JInt(i)         => FxScalar(lit(i.toLong), FxInt)
      case JLong(i)        => FxScalar(lit(i), FxInt)
      case JDouble(d)      => FxScalar(lit(d), FxDouble)
      case JDecimal(d)     => FxScalar(lit(d.toDouble), FxDouble)
      case JBool(b)        => FxScalar(lit(b), FxBool)
      case _               => FxScalar(lit(null).cast(StringType), FxNull)
    }
  }

  /** Materialize any FxVal to a single (Column, FxType) pair. */
  private def materialize(v: FxVal): (Column, FxType) = v match {
    case FxScalar(c, t) => (c, t)
    case d: FxDict      => (jsonText(d), FxJson)
    case l: FxList      => (listRepr(l), FxString) // LIST marshal (LM_VT_LIST)
  }

  /** Unify two scalars to a common type for when/otherwise blending. */
  private def unify(a: (Column, FxType), b: (Column, FxType)): (Column, Column, FxType) =
    (a._2, b._2) match {
      case (ta, tb) if ta == tb          => (a._1, b._1, ta)
      case (FxInt, FxDouble)             => (a._1.cast(DoubleType), b._1, FxDouble)
      case (FxDouble, FxInt)             => (a._1, b._1.cast(DoubleType), FxDouble)
      case (FxNull, tb)                  => (lit(null).cast(sparkTypeOf(tb)), b._1, tb)
      case (ta, FxNull)                  => (a._1, lit(null).cast(sparkTypeOf(ta)), ta)
      case (FxString, FxJson) | (FxJson, FxString) => (a._1, b._1, FxString)
      case _ => (strRepr(FxScalar(a._1, a._2)), strRepr(FxScalar(b._1, b._2)), FxString)
    }

  // ------------------------------------------------------------ compare

  /** cmp result from an already-typed pair; op = FCMPX bits
    * (_evaluate_comparison, expr-comparison.c:95).
    */
  private def applyOp(l: Column, r: Column, op: Int): Column = op match {
    case 1 => l === r
    case 2 => l < r
    case 3 => l <= r
    case 4 => l > r
    case 5 => l >= r
    case 6 => l =!= r
    case _ => lit(true)
  }

  /** Numeric comparison (_evaluate_as_num, expr-comparison.c:127):
    * primitives by value, null as 0, datetime as epoch seconds, strings
    * parsed — unparseable is NaN, and NaN compares false except `!=`.
    */
  private def cmpNumeric(l: FxVal, r: FxVal, op: Int): Column = {
    def isLongish(t: FxType) = t == FxInt || t == FxBool || t == FxNull || t == FxDatetime
    // bytes/protobuf never parse as numbers: NaN, like an unparseable string
    def isParsed(t: FxType) =
      t == FxString || t == FxJson || t == FxBytes || t == FxProtobuf
    def toLong(c: Column, t: FxType): Column = t match {
      case FxInt      => c
      case FxBool     => c.cast(LongType)
      case FxNull     => lit(0L)
      case FxDatetime => unix_timestamp(c.cast(TimestampType))
      case _          => c
    }
    def toDouble(c: Column, t: FxType): Column = t match {
      case FxDouble             => c
      case FxString | FxJson    => c.try_cast(DoubleType)
      case FxBytes | FxProtobuf => lit(null).cast(DoubleType)
      case other                => toLong(c, other).cast(DoubleType)
    }
    val (lc, lt) = materialize(l)
    val (rc, rt) = materialize(r)
    if (isLongish(lt) && isLongish(rt)) applyOp(toLong(lc, lt), toLong(rc, rt), op)
    else {
      val ln = toDouble(lc, lt)
      val rn = toDouble(rc, rt)
      if (isParsed(lt) || isParsed(rt))
        when(ln.isNull || rn.isNull, lit(op == 6)).otherwise(applyOp(ln, rn, op))
      else applyOp(ln, rn, op)
    }
  }

  /** Type-aware comparison (_evaluate_type_aware, expr-comparison.c:143),
    * dispatched on the LEFT operand: string-family LHS compares textually;
    * a `null` operand makes ==/!= pure type comparisons; everything else
    * compares numerically (a bytes RHS then counts as unparseable). A json
    * scalar LHS (getattr out of a json object — dynamically typed in the
    * reference) compares numerically against numbers and textually
    * otherwise.
    */
  private def cmpTypeAware(l: FxVal, r: FxVal, op: Int): Column = {
    val lt = l match { case FxScalar(_, t) => t; case _ => FxJson }
    val rt = r match { case FxScalar(_, t) => t; case _ => FxJson }
    val numericTypes = Set[FxType](FxInt, FxDouble, FxBool, FxDatetime)
    val bytesFamily = Set[FxType](FxBytes, FxProtobuf)
    // FxJson covers json scalars and dict/list trees
    val stringFamily = lt == FxString || lt == FxJson
    if (bytesFamily.contains(lt) || (stringFamily && bytesFamily.contains(rt))) {
      // a bytes/protobuf LHS, or a string-family LHS against a bytes RHS,
      // compares as raw bytes (expr-comparison.c:76-93
      // _convert_filterx_object_to_string returns the PAYLOAD, not the hex
      // repr, then memcmp + length tiebreak). Spark's BinaryType ordering is
      // exactly unsigned memcmp with length tiebreak; a string operand joins
      // the comparison via its UTF-8 bytes (the reference marshals it raw).
      def toBin(v: FxVal): Column = v match {
        case FxScalar(c, FxBytes | FxProtobuf) => c
        case other                             => strRepr(other).cast(BinaryType)
      }
      applyOp(toBin(l), toBin(r), op)
    }
    else if (l.isInstanceOf[FxDict] || l.isInstanceOf[FxList] || lt == FxString)
      applyOp(strRepr(l), strRepr(r), op)
    else if (lt == FxJson)
      if (numericTypes.contains(rt)) cmpNumeric(l, r, op)
      else applyOp(strRepr(l), strRepr(r), op)
    else if ((lt == FxNull || rt == FxNull) && (op == 1 || op == 6))
      if (op == 1) lit(lt == rt) else lit(lt != rt)
    else cmpNumeric(l, r, op)
  }

  /** Type-and-value `===`/`!==` (_evaluate_type_and_value_based): types
    * must match before values are compared — statically known here.
    */
  private def cmpTypeValue(l: FxVal, r: FxVal, op: Int): Column = {
    val lt = l match { case FxScalar(_, t) => t; case _ => FxJson }
    val rt = r match { case FxScalar(_, t) => t; case _ => FxJson }
    if (lt != rt) lit(op == 6)
    else cmpTypeAware(l, r, op)
  }

  // ----------------------------------------------------------- compiler

  /** The compiled block: `matched` is the all-statements-passed predicate;
    * `updates` are the final message-variable values, already blended with
    * the pre-block values for unmatched/unreached rows. Both are pure
    * expressions over the input frame.
    */
  final case class Compiled(
      matched: Column,
      updates: Seq[(String, Column)],
      declared: Map[String, FxVal]) {

    /** Standalone application: drop unmatched rows, store updates — one
      * projection + one filter, evaluated against the ORIGINAL frame.
      */
    def apply(df: DataFrame): DataFrame = {
      val updated = df.columns.toSeq.map { c =>
        updates.find(_._1 == c).map(_._2.as(c)).getOrElse(col(c))
      }
      val added = updates.filterNot(u => df.columns.contains(u._1)).map { case (n, v) => v.as(n) }
      df.select(updated ++ added :+ matched.as("__fx_matched"): _*)
        .where(col("__fx_matched")).drop("__fx_matched")
    }
  }

  def compile(df: DataFrame, program: String,
      inherited: Map[String, FxVal] = Map.empty): Compiled = {
    import Ast._
    val stmts = new Parser(tokenize(program)).parseProgram()
    val schema = df.schema
    val baseCols = schema.fields.map(f => f.name -> f.dataType).toMap

    val msgEnv = mutable.LinkedHashMap.empty[String, FxVal]
    val floatEnv = mutable.LinkedHashMap.empty[String, FxVal]
    val declaredNames = mutable.Set.empty[String]
    inherited.foreach { case (k, v) => floatEnv(k) = v; declaredNames += k }
    var fail: Column = lit(false)

    def baseVal(name: String): Option[FxVal] =
      baseCols.get(name).map(dt => FxScalar(col(name).cast(sparkTypeOf(fxTypeOf(dt))), fxTypeOf(dt)))
        .orElse {
          // grok-style dynamic fields map: $name falls through to fields['name']
          baseCols.get("fields").collect {
            case MapType(StringType, StringType, _) => FxScalar(col("fields")(name), FxString)
          }
        }

    def readMsg(name: String): FxVal =
      msgEnv.getOrElse(name, baseVal(name).getOrElse(
        sys.error(s"filterx: unknown message variable $$$name (not a column of the frame)")))

    /** Template resolver for double-quoted strings: block-local view of the
      * message (pending writes visible), then frame columns / fields map.
      */
    val resolver: Templates.Resolver = name =>
      msgEnv.get(name).map(v => materialize(v)._1)
        .orElse(baseVal(name).map(v => materialize(v)._1))

    def blend(guard: Option[Column], newV: FxVal, oldV: FxVal): FxVal = guard match {
      case None => newV
      case Some(g) =>
        val (nc, oc, t) = unify(materialize(newV), materialize(oldV))
        FxScalar(when(g, nc).otherwise(oc), t)
    }

    def evalExpr(e: Expr, guard: Option[Column]): FxVal = e match {
      case IntLit(v)  => FxScalar(lit(v), FxInt)
      case DblLit(v)  => FxScalar(lit(v), FxDouble)
      case BoolLit(v) => FxScalar(lit(v), FxBool)
      case NullLit    => FxScalar(lit(null).cast(StringType), FxNull)
      case StrLit(raw, false) => FxScalar(lit(raw), FxString)
      case StrLit(raw, true) =>
        // grammar construct_template_expr: literal text stays a string
        // literal; a lone `$name` passes the variable through TYPED; real
        // templates render to strings
        if (!raw.contains('$')) FxScalar(lit(raw), FxString)
        else {
          val trivial = "^\\$\\{?([A-Za-z0-9_]+)\\}?$".r
          raw match {
            case trivial(name) => readMsg(name)
            case _             => FxScalar(Templates.compile(raw, resolver), FxString)
          }
        }
      case MsgVar(name) => readMsg(name)
      case FloatVar(name) => floatEnv.getOrElse(name,
        sys.error(s"filterx: undefined variable $name"))
      case GetAttr(base, name) => getKey(evalExpr(base, guard), Left(name))
      case GetSub(base, Some(k)) =>
        evalExpr(k, guard) match {
          case FxScalar(_, FxInt) if literalOf(k).isDefined =>
            getKey(evalExpr(base, guard), Right(literalOf(k).get.toInt))
          case _ =>
            literalStrOf(k) match {
              case Some(s) => getKey(evalExpr(base, guard), Left(s))
              case None    => sys.error("filterx: subscript keys must be literals")
            }
        }
      case GetSub(_, None) => sys.error("filterx: `[]` is only valid as an assignment target")
      case Not(x) => FxScalar(!truthy(evalExpr(x, guard)), FxBool)
      case And(l, r) => FxScalar(truthy(evalExpr(l, guard)) && truthy(evalExpr(r, guard)), FxBool)
      case Or(l, r)  => FxScalar(truthy(evalExpr(l, guard)) || truthy(evalExpr(r, guard)), FxBool)
      case Cmp(l, r, op, mode) =>
        val lv = evalExpr(l, guard); val rv = evalExpr(r, guard)
        val c = mode match {
          case 0 => cmpTypeAware(lv, rv, op)
          case 1 => applyOp(strRepr(lv), strRepr(rv), op)
          case 2 => cmpTypeValue(lv, rv, op)
        }
        FxScalar(c, FxBool)
      case Regex(x, pattern) =>
        val v = evalExpr(x, guard)
        v match {
          case FxScalar(c, FxString | FxJson) => FxScalar(c.rlike(pattern), FxBool)
          case _ => sys.error("filterx: =~ left hand side must be a string (expr-regexp.c:105)")
        }
      case Ternary(c, t, f) =>
        val cv = evalExpr(c, guard)
        val fv = evalExpr(f, guard)
        t match {
          case Some(te) =>
            val tv = evalExpr(te, guard)
            val (tc, fc, ty) = unify(materialize(tv), materialize(fv))
            FxScalar(when(truthy(cv), tc).otherwise(fc), ty)
          case None => // elvis: truthy(c) ? c : f
            val (cc, fc, ty) = unify(materialize(cv), materialize(fv))
            FxScalar(when(truthy(cv), cc).otherwise(fc), ty)
        }
      case IsSet(x) => FxScalar(isSet(x), FxBool)
      case UnsetE(_) => sys.error("filterx: unset() is only valid as a statement")
      case DictGen(entries) =>
        FxDict(ListMap(entries.map { case (k, v) =>
          val key = literalStrOf(k).getOrElse(
            sys.error("filterx: dict keys must be string literals"))
          key -> evalExpr(v, guard)
        }: _*))
      case ListGen(items) => FxList(items.map(evalExpr(_, guard)).toVector)
      case Func(name, args) => evalFunc(name, args, guard)
    }

    def literalOf(e: Expr): Option[Long] = e match {
      case IntLit(v) => Some(v)
      case _         => None
    }
    def literalStrOf(e: Expr): Option[String] = e match {
      case StrLit(s, false)                  => Some(s)
      case StrLit(s, true) if !s.contains('$') => Some(s)
      case _                                 => None
    }

    def getKey(base: FxVal, key: Either[String, Int]): FxVal = (base, key) match {
      case (FxDict(m), Left(k)) =>
        m.getOrElse(k, FxScalar(lit(null).cast(StringType), FxNull))
      case (FxList(xs), Right(i)) =>
        if (i >= 0 && i < xs.length) xs(i) else FxScalar(lit(null).cast(StringType), FxNull)
      case (FxScalar(c, FxJson), Left(k))  => FxScalar(get_json_object(c, s"$$['$k']"), FxJson)
      case (FxScalar(c, FxJson), Right(i)) => FxScalar(get_json_object(c, s"$$[$i]"), FxJson)
      case (FxScalar(c, FxString), Left(k)) => FxScalar(get_json_object(c, s"$$['$k']"), FxJson)
      case other => sys.error(s"filterx: cannot index a ${other._1.getClass.getSimpleName}")
    }

    def isSet(e: Expr): Column = e match {
      case MsgVar(name) =>
        msgEnv.get(name).map(v => materialize(v)._1.isNotNull)
          .orElse(baseVal(name).map(v => materialize(v)._1.isNotNull))
          .getOrElse(lit(false))
      case FloatVar(name) =>
        floatEnv.get(name).map(v => materialize(v)._1.isNotNull).getOrElse(lit(false))
      case GetAttr(_, _) | GetSub(_, Some(_)) =>
        materialize(evalExpr(e, None))._1.isNotNull
      case _ => materialize(evalExpr(e, None))._1.isNotNull
    }

    def evalFunc(name: String, allArgs: Seq[Expr], guard: Option[Column]): FxVal = {
      val named: Map[String, Expr] =
        allArgs.collect { case NamedArg(n, v) => n -> v }.toMap
      val args: Seq[Expr] = allArgs.filterNot(_.isInstanceOf[NamedArg])
      // an unconsumed named argument must ERROR, not silently no-op
      // (expr-function.c rejects unknown kwargs at compile time)
      val allowedNamed: Set[String] = name match {
        case "parse_kv" => Set("value_separator", "pair_separator", "stray_words_key")
        case _          => Set.empty
      }
      named.keys.find(!allowedNamed.contains(_)).foreach(n =>
        sys.error(s"filterx: $name() does not accept named argument '$n'"))
      def arg0 = evalExpr(args.head, guard)
      name match {
        // filterx-globals.c:73-110 builtin registry. json()/json_array()
        // pass containers through (they're already typed), parse strings,
        // and construct empty containers with no args.
        case "json" =>
          if (args.isEmpty) FxDict(ListMap.empty)
          else arg0 match {
            case d: FxDict      => d
            case l: FxList      => l
            case FxScalar(c, _) => FxScalar(c.cast(StringType), FxJson)
          }
        case "json_array" =>
          if (args.isEmpty) FxList(Vector.empty)
          else arg0 match {
            case l: FxList      => l
            case d: FxDict      => d
            case FxScalar(c, _) => FxScalar(c.cast(StringType), FxJson)
          }
        case "string"     => FxScalar(strRepr(arg0), FxString)
        // bytes() typecast (object-string.c:236-261 filterx_typecast_bytes):
        // identity on bytes, string → its UTF-8 bytes, protobuf → retag as
        // plain bytes (:255-260); everything else is a compile error
        case "bytes" =>
          arg0 match {
            case b @ FxScalar(_, FxBytes)       => b
            case FxScalar(c, FxProtobuf)        => FxScalar(c, FxBytes)
            case FxScalar(c, FxString | FxJson) => FxScalar(c.cast(BinaryType), FxBytes)
            case FxScalar(_, t) => sys.error(s"filterx: bytes() cannot cast $t")
            case other => sys.error(s"filterx: bytes() cannot cast ${other.getClass.getSimpleName}")
          }
        // protobuf() typecast (object-string.c:269-293
        // filterx_typecast_protobuf): identity on protobuf, bytes → retag
        // with the protobuf type identity (the reference attaches NO schema
        // here — it is a length-delimited byte payload whose producers are
        // the otel objects), everything else is an error.
        case "protobuf" =>
          arg0 match {
            case p @ FxScalar(_, FxProtobuf) => p
            case FxScalar(c, FxBytes)        => FxScalar(c, FxProtobuf)
            case FxScalar(_, t) => sys.error(s"filterx: protobuf() cannot cast $t")
            case other => sys.error(s"filterx: protobuf() cannot cast ${other.getClass.getSimpleName}")
          }
        // format_json (modules/json/filterx-format-json.c): render ANY value
        // as a JSON literal string — dict/list via the same to_json marshal
        // as dict stores (bytes fields render base64 there, matching
        // _append_bytes), scalars per _format_and_append_value: strings
        // JSON-escaped, bytes base64-quoted, bool/int literal, null "null".
        // Doubles render via to_json (Jackson shortest-repr) — declared
        // delta vs glib g_ascii_dtostr for the exponent format.
        case "format_json" =>
          val rendered = arg0 match {
            case d: FxDict => jsonText(d)
            case l: FxList => jsonText(l)
            case FxScalar(c, FxJson)  => c
            case FxScalar(c, FxBytes | FxProtobuf) => concat(lit("\""), base64(c), lit("\""))
            case FxScalar(c, FxBool)  => when(c, "true").otherwise("false")
            case FxScalar(c, FxInt)   => c.cast(StringType)
            case FxScalar(_, FxNull)  => lit("null")
            case s @ FxScalar(_, FxString | FxDouble | FxDatetime) =>
              // JSON-escape a scalar: wrap in a 1-element array (to_json
              // only takes containers) and strip the [ ] — the payload in
              // between is exactly the JSON literal. Doubles keep their
              // native numeric type so they render unquoted.
              val inner = s match {
                case FxScalar(c, FxDouble) => c
                case other                 => strRepr(other)
              }
              val j = to_json(array(inner))
              j.substr(lit(2), length(j) - 2)
          }
          FxScalar(rendered, FxJson)
        case "int" =>
          val (c, t) = materialize(arg0)
          val out = t match {
            case FxInt             => c
            case FxBool            => c.cast(LongType)
            case FxDouble          => c.cast(LongType) // truncates toward zero
            case FxString | FxJson => c.try_cast(DoubleType).cast(LongType)
            case FxDatetime        => unix_timestamp(c.cast(TimestampType))
            case FxNull            => lit(null).cast(LongType)
            case FxBytes | FxProtobuf => sys.error("filterx: int() cannot cast bytes")
          }
          FxScalar(out, FxInt)
        case "double" =>
          val (c, t) = materialize(arg0)
          val out = t match {
            case FxDouble          => c
            case FxString | FxJson => c.try_cast(DoubleType)
      case FxBytes | FxProtobuf => lit(null).cast(DoubleType)
            case FxNull            => lit(null).cast(DoubleType)
            case FxDatetime        => unix_timestamp(c.cast(TimestampType)).cast(DoubleType)
            case _                 => c.cast(DoubleType)
          }
          FxScalar(out, FxDouble)
        case "bool" => FxScalar(truthy(arg0), FxBool)
        case "len" =>
          arg0 match {
            case FxScalar(c, FxString) => FxScalar(length(c).cast(LongType), FxInt)
            case FxScalar(c, FxBytes | FxProtobuf) => FxScalar(length(c).cast(LongType), FxInt)
            case FxScalar(c, FxJson) =>
              FxScalar(coalesce(
                json_array_length(c).cast(LongType),
                size(json_object_keys(c)).cast(LongType),
                length(c).cast(LongType)), FxInt)
            case FxDict(m)  => FxScalar(lit(m.size.toLong), FxInt)
            case FxList(xs) => FxScalar(lit(xs.length.toLong), FxInt)
            case FxScalar(_, t) => sys.error(s"filterx: len() of $t")
          }
        case "istype" =>
          val want = literalStrOf(args(1)).getOrElse(
            sys.error("filterx: istype() needs a literal type name"))
          val have = arg0 match {
            case FxScalar(_, FxString)   => lit("string")
            case FxScalar(_, FxInt)      => lit("integer")
            case FxScalar(_, FxDouble)   => lit("double")
            case FxScalar(_, FxBool)     => lit("boolean")
            case FxScalar(_, FxNull)     => lit("null")
            case FxScalar(_, FxDatetime) => lit("datetime")
            case FxScalar(_, FxBytes)    => lit("bytes")
            case FxScalar(_, FxProtobuf) => lit("protobuf")
            case FxDict(_)               => lit("json_object")
            case FxList(_)               => lit("json_array")
            case FxScalar(c, FxJson) =>
              val t = ltrim(c)
              when(t.startsWith("{"), "json_object")
                .when(t.startsWith("["), "json_array")
                .otherwise("string")
          }
          FxScalar(have === want, FxBool)
        case "datetime" =>
          val (c, t) = materialize(arg0)
          val out = t match {
            case FxDatetime        => c
            case FxInt | FxDouble  => timestamp_seconds(c).cast(TimestampNTZType)
            case _                 => c.try_cast(TimestampNTZType)
          }
          FxScalar(out, FxDatetime)
        case "isodate" =>
          FxScalar(date_format(materialize(arg0)._1, "yyyy-MM-dd'T'HH:mm:ss"), FxString)
        // regexp_search generator (expr-regexp.c:157-250): first match's
        // capture groups as a json list, or a dict keyed "0","1",… with
        // named groups renamed when the pattern has any. No match → empty
        // container. Divergence: a non-participating optional group is ""
        // here (the reference omits it).
        case "regexp_search" =>
          val (c, t) = materialize(arg0)
          require(t == FxString || t == FxJson,
            "filterx: regexp_search subject must be a string (expr-regexp.c:105)")
          val pat = literalStrOf(args(1)).getOrElse(
            sys.error("filterx: regexp_search needs a literal pattern"))
          val nGroups =
            java.util.regex.Pattern.compile(pat).matcher("").groupCount()
          val names = namedGroups(pat)
          val matched = c.rlike(pat)
          if (names.isEmpty) {
            val items = (0 to nGroups).map(i => regexp_extract(c, pat, i))
            FxScalar(when(matched, to_json(array(items: _*))).otherwise("[]"), FxJson)
          } else {
            val fields = (0 to nGroups).map { i =>
              regexp_extract(c, pat, i).as(names.getOrElse(i, i.toString))
            }
            FxScalar(when(matched, to_json(struct(fields: _*))).otherwise("{}"), FxJson)
          }
        // strptime(time_str, fmt...) — object-datetime.c:237-307: try each
        // strftime format in order, first successful parse wins; none → null.
        case "strptime" =>
          val subject = strRepr(arg0)
          val fmts = args.tail.map(e => literalStrOf(e).getOrElse(
            sys.error("filterx: strptime formats must be literal strings")))
          require(fmts.nonEmpty, "filterx: strptime(time_str, format...)")
          val cands = fmts.map(f =>
            try_to_timestamp(subject, lit(graft.functions.TemplateFunctions.strftimeToJava(f))))
          FxScalar(coalesce(cands: _*).cast(TimestampNTZType), FxDatetime)

        // parse_kv (modules/kvformat/filterx-func-parse-kv.c:296-330): the
        // kv-scanner FSM (quoted values, stray words) over one string →
        // dict. Scalar function over the Scanners FSM — the same engine the
        // kv-parser stage uses, so dialect semantics cannot drift.
        case "parse_kv" =>
          // optional args are positional-with-null-default OR named
          // (filterx-func-parse-kv.c:296: subject, value_separator,
          // pair_separator, stray_words_key)
          def opt(i: Int, n: String): Option[String] = args.lift(i) match {
            case None | Some(NullLit) => named.get(n).map(e =>
              literalStrOf(e).getOrElse(
                sys.error(s"filterx: parse_kv $n must be a literal string")))
            case Some(e) => Some(literalStrOf(e).getOrElse(
              sys.error(s"filterx: parse_kv $n must be a literal string")))
          }
          // only the FIRST character of the separator is used, and an empty
          // string keeps the default (filterx-func-parse-kv.c:104-112)
          val vs = opt(1, "value_separator").filter(_.nonEmpty)
            .map(_.head).getOrElse('=')
          val strayKey = opt(3, "stray_words_key")
          val opts = graft.parsers.Scanners.KvOptions(
            vs, opt(2, "pair_separator").getOrElse(", "), strayKey.isDefined)
          val fn = udf { (s: String) =>
            if (s == null) null
            else {
              val (pairs, stray) = graft.parsers.Scanners.scanKv(s, opts)
              val last = scala.collection.mutable.LinkedHashMap.empty[String, String]
              pairs.foreach { case (k, v) => last += k -> v }
              strayKey.foreach(k => if (stray.nonEmpty) last += k -> stray)
              last.map { case (k, v) => jsonQuote(k) + ":" + jsonQuote(v) }
                .mkString("{", ",", "}")
            }
          }
          FxScalar(fn(strRepr(arg0)), FxJson)

        // format_kv(kvs_dict, value_sep?, pair_sep?) (filterx-func-format-kv
        // .c:226-260): dict → "k=v, k2=v2". Compile-time dicts render as a
        // concat of literal keys + value reprs; runtime json dicts via
        // map_entries (from_json keeps key order, like the reference's
        // iteration order).
        case "format_kv" =>
          def optSep(i: Int, dflt: String): String = args.lift(i) match {
            case None | Some(NullLit) => dflt
            case Some(e) => literalStrOf(e).getOrElse(
              sys.error("filterx: format_kv separators must be literal strings"))
          }
          // like parse_kv: first char of the separator, empty = default
          val vs = optSep(1, "=").headOption.getOrElse('=').toString
          val ps = optSep(2, ", ")
          // a value containing a space is double-quoted with `"`/`\`
          // escaped (format-kv.c:70-82 append_unsafe_utf8_as_escaped_binary)
          def kvQuote(v: Column): Column =
            when(v.contains(" "),
              concat(lit("\""),
                regexp_replace(regexp_replace(v, "\\\\", "\\\\\\\\"), "\"", "\\\\\""),
                lit("\"")))
              .otherwise(v)
          arg0 match {
            case FxDict(m) =>
              // nested dict/list values are skipped (format-kv.c:50-56)
              val parts = m.toSeq.collect {
                case (k, v @ FxScalar(_, _)) => concat(lit(k + vs), kvQuote(strRepr(v)))
              }
              FxScalar(concat_ws(ps, parts: _*), FxString)
            case FxScalar(c, FxJson | FxString) =>
              // runtime path: flat string-valued dicts (the reference's
              // nested-skip applies to compile-time trees above)
              val entries = map_entries(from_json(c, MapType(StringType, StringType)))
              FxScalar(array_join(
                transform(entries, e =>
                  concat(e.getField("key"), lit(vs), kvQuote(e.getField("value")))), ps),
                FxString)
            case other => sys.error(s"filterx: format_kv needs a dict, got $other")
          }

        // cache_json_file("path") (modules/json/filterx-cache-json-file.c):
        // a config-time lookup table. Loaded ONCE on the driver and folded
        // into the plan as a literal dict/list tree — lookups against it
        // compile to constants (Catalyst constant-folds the getattr chain),
        // never per-row file I/O. The reference likewise keeps the parsed
        // tree resident and shares it across workers (frozen objects).
        case "cache_json_file" =>
          val path = literalStrOf(args.head).getOrElse(
            sys.error("filterx: cache_json_file needs a literal path"))
          val txt = new String(
            java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
          jsonToFx(org.json4s.jackson.JsonMethods.parse(txt))

        case other => sys.error(s"filterx: unknown function $other()")
      }
    }

    def assignTo(lhs: Expr, v: FxVal, guard: Option[Column]): Unit = lhs match {
      case MsgVar(name) =>
        val old = msgEnv.get(name).orElse(baseVal(name))
          .getOrElse(FxScalar(lit(null).cast(StringType), FxNull))
        msgEnv(name) = blend(guard, v, old)
      case FloatVar(name) =>
        val old = floatEnv.getOrElse(name, FxScalar(lit(null).cast(StringType), FxNull))
        floatEnv(name) = if (floatEnv.contains(name)) blend(guard, v, old) else v
      case GetAttr(base, name) => updatePath(base, Left(name), v, guard)
      case GetSub(base, Some(k)) =>
        literalStrOf(k) match {
          case Some(s) => updatePath(base, Left(s), v, guard)
          case None => literalOf(k) match {
            case Some(i) => updatePath(base, Right(i.toInt), v, guard)
            case None    => sys.error("filterx: assignment subscript must be a literal")
          }
        }
      case GetSub(base, None) => // $xs[] = v — append
        resolveVar(base) match {
          case (read, write) => read() match {
            case FxList(xs) => write(FxList(xs :+ v))
            case other      => sys.error(s"filterx: []= append needs a list, got $other")
          }
        }
      case other => sys.error(s"filterx: invalid assignment target $other")
    }

    /** (reader, writer) pair for a variable root. */
    def resolveVar(e: Expr): (() => FxVal, FxVal => Unit) = e match {
      case MsgVar(n)   => (() => readMsg(n), v => msgEnv(n) = v)
      case FloatVar(n) => (() => floatEnv.getOrElse(n, sys.error(s"filterx: undefined variable $n")),
        v => floatEnv(n) = v)
      case other => sys.error(s"filterx: cannot assign through $other")
    }

    /** Structural set-attr/set-subscript (expr-setattr.c/expr-set-subscript
      * .c): only meaningful on dict/list trees built in this block — a
      * compile-time tree update; guarded writes blend at the leaf.
      */
    def updatePath(base: Expr, key: Either[String, Int], v: FxVal, guard: Option[Column]): Unit = {
      val (read, write) = base match {
        case GetAttr(inner, name) =>
          val (r, w) = resolveVar(inner) // one level of nesting supported
          (() => r() match {
            case FxDict(m) => m.getOrElse(name, sys.error(s"filterx: no attribute $name"))
            case other     => sys.error(s"filterx: cannot navigate $other")
          }, (nv: FxVal) => r() match {
            case FxDict(m) => w(FxDict(m.updated(name, nv)))
            case _         => ()
          })
        case _ => resolveVar(base)
      }
      read() match {
        case FxDict(m) =>
          val k = key.swap.toOption.getOrElse(sys.error("filterx: dict keys are strings"))
          val old = m.getOrElse(k, FxScalar(lit(null).cast(StringType), FxNull))
          val stored = if (guard.isEmpty || !m.contains(k)) v else blend(guard, v, old)
          write(FxDict(m.updated(k, stored)))
        case FxList(xs) =>
          val i = key.toOption.getOrElse(sys.error("filterx: list subscripts are integers"))
          require(i >= 0 && i < xs.length, s"filterx: list index $i out of bounds")
          write(FxList(xs.updated(i, if (guard.isEmpty) v else blend(guard, v, xs(i)))))
        case FxScalar(_, _) =>
          sys.error("filterx: set-attr target must be a dict or list built in this block")
      }
    }

    def unsetTarget(e: Expr, guard: Option[Column]): Unit = e match {
      case MsgVar(name) =>
        val old = msgEnv.get(name).orElse(baseVal(name))
          .getOrElse(FxScalar(lit(null).cast(StringType), FxNull))
        val (oc, ot) = materialize(old)
        val nulled = FxScalar(lit(null).cast(sparkTypeOf(ot)), ot)
        msgEnv(name) = blend(guard, nulled, FxScalar(oc, ot))
      case FloatVar(name) => floatEnv.remove(name); ()
      case GetAttr(base, name) =>
        resolveVar(base) match {
          case (read, write) => read() match {
            case FxDict(m) => write(FxDict(m - name))
            case _         => ()
          }
        }
      case other => sys.error(s"filterx: cannot unset $other")
    }

    def walk(body: Seq[Stmt], guard: Option[Column]): Unit = body.foreach {
      case ExprStmt(UnsetE(target)) => unsetTarget(target, guard)
      case AppendAssign(lhs, rhs) =>
        val items = evalExpr(rhs, guard) match {
          case FxList(xs) => xs
          case other      => Vector(other)
        }
        val (read, write) = resolveVar(lhs)
        read() match {
          case FxList(xs) if guard.isEmpty => write(FxList(xs ++ items))
          case cur => // guarded or non-list: blend materialized forms
            val appended = cur match {
              case FxList(xs) => FxList(xs ++ items)
              case other      => sys.error(s"filterx: += needs a list, got $other")
            }
            write(blend(guard, appended, cur))
        }
      case ExprStmt(e) =>
        val ok = truthy(evalExpr(e, guard))
        val failHere = guard.map(g => g && !ok).getOrElse(!ok)
        fail = fail || failHere
      case Assign(lhs, rhs) => assignTo(lhs, evalExpr(rhs, guard), guard)
      case Declare(name, rhs) =>
        declaredNames += name
        val v = evalExpr(rhs, guard)
        val old = floatEnv.getOrElse(name, FxScalar(lit(null).cast(StringType), FxNull))
        floatEnv(name) = if (floatEnv.contains(name)) blend(guard, v, old) else v
      case IfStmt(branches, otherwise) =>
        // exclusive ladder like Dsl.IfElse; an unmatched conditional is
        // TRUE (expr-condition.c:64) so only taken-branch statements can
        // fail the row
        var noneEarlier: Column = lit(true)
        branches.foreach { case (condE, bodyStmts) =>
          val c = truthy(evalExpr(condE, guard))
          val g = guard.map(_ && noneEarlier && c).getOrElse(noneEarlier && c)
          walk(bodyStmts, Some(g))
          noneEarlier = noneEarlier && !c
        }
        if (otherwise.nonEmpty) {
          val g = guard.map(_ && noneEarlier).getOrElse(noneEarlier)
          walk(otherwise, Some(g))
        }
    }

    walk(stmts, None)

    val matched = !fail
    val updates = msgEnv.toSeq.map { case (name, v) =>
      val (nc, nt) = materialize(v)
      val origVal: (Column, FxType) = baseCols.get(name) match {
        case Some(dt) => (col(name).cast(sparkTypeOf(fxTypeOf(dt))), fxTypeOf(dt))
        case None     => (lit(null).cast(sparkTypeOf(nt)), nt)
      }
      // commit only when the whole block matched (filterx-eval.c:202)
      val (ocU, ncU, _) = unify(origVal, (nc, nt))
      name -> when(matched, ncU).otherwise(ocU)
    }
    Compiled(matched, updates,
      floatEnv.filter { case (k, _) => declaredNames.contains(k) }.toMap)
  }

  /** One-step convenience: compile against `df` and apply. */
  def apply(df: DataFrame, program: String): DataFrame = compile(df, program)(df)
}
