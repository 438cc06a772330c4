package graft.parsers

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A stage's per-row function over one input value (the text column for a
  * parser, a struct of the inputs for a fold, any column for a codec): the
  * fields it appends and how one input value becomes its output rows.
  * Per-task state (compiled patterns, matchers, scratch buffers, a fold's
  * running state, type converters) lives in `@transient` members, so each
  * task builds its own after deserialization — the analog of the reference
  * compiling a parser once at config time.
  */
abstract class RowParser[In] extends Serializable {
  /** Short plan label (rule ids, never regexes) shown by `explain`. */
  def label: String
  def fields: Seq[StructField]
  /** False for a fold, whose output depends on the rows before it in the
    * partition. The generator is then non-deterministic, so Catalyst keeps
    * every predicate above it: a filter on an input column pushed below the
    * fold would change what the fold sees. */
  def deterministic: Boolean = true
  /** The appended values for `in`, in `fields` order; a null result drops
    * the input row. */
  def parse(in: In): InternalRow
  /** Every output row for `in`: the one [[parse]] returns, none for null. A
    * stage that emits 0..n rows per input overrides this instead. */
  def rows(in: In): IterableOnce[InternalRow] = {
    val row = parse(in)
    if (row == null) Iterator.empty else Iterator.single(row)
  }
}

/** A parse stage (a fold, a codec) as a Catalyst generator: the rows
  * `parser.rows` returns for each input row. It plans as its own `Generate`
  * operator, so Catalyst prunes the columns it does not need below it,
  * keeps predicates on its outputs above it (the parse runs once per row),
  * and batch and streaming frames run the same code. The generated code
  * only calls `parser.rows`, which lets `Generate` join whole-stage
  * codegen: input columns and parsed fields pass to the next operator as
  * variables, with no joined row or extra projection per row.
  */
final case class ParseGenerator(child: Expression, parser: RowParser[_])
    extends UnaryExpression with Generator {
  override lazy val elementSchema: StructType = StructType(parser.fields)
  override lazy val deterministic: Boolean = parser.deterministic && child.deterministic
  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    parser.asInstanceOf[RowParser[Any]].rows(child.eval(input))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = child.genCode(ctx)
    val p = ctx.addReferenceObj("parser", parser, classOf[RowParser[_]].getName)
    val rows = JavaCode.variable(ctx.freshName("parsed"), classOf[IterableOnce[_]])
    ExprCode(code"""
      |${in.code}
      |${classOf[IterableOnce[_]].getName}<InternalRow> $rows =
      |  $p.rows(${in.isNull} ? null : ${in.value});
      |""".stripMargin, FalseLiteral, rows)
  }
  override def toString: String = s"${parser.label}($child)"
  override protected def withNewChildInternal(c: Expression): ParseGenerator = copy(child = c)
}

object ParseStage {

  /** `df` with `parser`'s fields appended, parsed from `textCol`. */
  def apply(df: DataFrame, textCol: String, parser: RowParser[UTF8String]): DataFrame =
    apply(df, Bridge.column(UnresolvedAttribute.quoted(textCol)), parser)

  /** `df` with `parser`'s fields appended, computed from `input`. A fold
    * sees the rows in `df`'s partition order: `Generate` keeps it. */
  def apply(df: DataFrame, input: Column, parser: RowParser[_]): DataFrame =
    df.select(col("*"), Bridge.column(ParseGenerator(Bridge.expression(input), parser)))

  /** `df` with `field` appended, computed by `f` from `input`'s value in
    * its Scala form (`String`, `Array[Byte]`, a `Row` for a struct; null
    * stays null). One row out per row in. */
  def map[A](df: DataFrame, input: Column, field: StructField)(f: A => Any): DataFrame =
    flatMap[A](df, input, StructType(Seq(field)))(a => Iterator.single(Row(f(a))))

  /** `df` with `out`'s fields appended: each input row becomes one output
    * row per `Row` of `out` that `f` returns for `input`'s Scala value
    * (none drops it). The per-row Scala code of a codec or a file decoder
    * runs as a [[RowParser]], so it plans as one `Generate` like a parser. */
  def flatMap[A](df: DataFrame, input: Column, out: StructType)(
      f: A => IterableOnce[Row]): DataFrame = {
    val inType = df.select(input).schema.head.dataType
    apply(df, input, ScalaStage(out, inType, f.asInstanceOf[Any => IterableOnce[Row]]))
  }

  /** A Scala function over external values as a [[RowParser]]: the input
    * converts from and every output row to Catalyst's internal form. */
  private final case class ScalaStage(
      out: StructType, inType: DataType, f: Any => IterableOnce[Row]) extends RowParser[Any] {
    @transient private lazy val toScala = CatalystTypeConverters.createToScalaConverter(inType)
    @transient private lazy val toCatalyst = CatalystTypeConverters.createToCatalystConverter(out)
    def label: String = out.fieldNames.mkString("scala:", ",", "")
    def fields: Seq[StructField] = out.fields.toSeq
    def parse(in: Any): InternalRow = throw new UnsupportedOperationException(label) // rows only
    override def rows(in: Any): IterableOnce[InternalRow] =
      f(toScala(in)).iterator.map(r => toCatalyst(r).asInstanceOf[InternalRow])
  }

  /** Output stage columns that `df` already carries, dropped before the
    * stage re-adds them: re-running a parser (the same parser in two log
    * paths, or a mid-pipeline re-parse) OVERWRITES its previous output like
    * the reference does, instead of duplicating column names. */
  def dropStale(df: DataFrame, parser: RowParser[_]): DataFrame = {
    val stale = parser.fields.map(_.name).filter(df.columns.contains)
    if (stale.isEmpty) df else df.drop(stale: _*)
  }

  def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  def strArray(xs: Iterable[String]): GenericArrayData =
    new GenericArrayData(xs.iterator.map(utf8).toArray[Any])

  /** A string map from parallel key/value sequences, in the given order. */
  def strMap(keys: Iterable[String], values: Iterable[String]): ArrayBasedMapData =
    new ArrayBasedMapData(strArray(keys), strArray(values))

  /** Last-wins map over `pairs`, keys in first-seen order. */
  def lastWins(pairs: Iterable[(String, String)]): ArrayBasedMapData = {
    val m = new java.util.LinkedHashMap[String, String]()
    pairs.foreach { case (k, v) => m.put(k, v) }
    import scala.jdk.CollectionConverters._
    strMap(m.keySet.asScala, m.values.asScala)
  }
}
