package graft.functions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (SURVEY.md §4 "optional accelerators"):
  * domain scalars that stay inside whole-stage codegen instead of paying
  * ScalaUDF boxing/conversion. Registered through
  * [[graft.GraftExtensions]] (spark.sql.extensions) or
  * [[GraftFunctions.register]].
  */

/** reverse_complement(dna) — reverse-complement of a DNA string
  * (models/Alphabet.scala:148 semantics), codegen'd via a static lookup
  * table. Null-intolerant unary string op. */
case class ReverseComplement(child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"reverse_complement needs a string argument, got ${child.dataType}")
  override def prettyName: String = "reverse_complement"

  protected override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    UTF8String.fromString(GenomicFunctions.reverseComplement(s))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      // ASCII complement table as a codegen'd static member
      val table = ctx.addMutableState("byte[]", "revCompTable",
        v => s"""$v = new byte[256];
          |for (int t = 0; t < 256; t++) { $v[t] = (byte) 'N'; }
          |$v['A'] = 'T'; $v['T'] = 'A'; $v['C'] = 'G'; $v['G'] = 'C';
          |$v['a'] = 't'; $v['t'] = 'a'; $v['c'] = 'g'; $v['g'] = 'c';
          |$v['N'] = 'N'; $v['n'] = 'n'; $v['U'] = 'A'; $v['u'] = 'a';
          |""".stripMargin, forceInline = true)
      s"""byte[] $bytes = $c.getBytes();
         |byte[] $out = new byte[$bytes.length];
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  int $b = $bytes[$bytes.length - 1 - $i] & 0xff;
         |  $out[$i] = $table[$b];
         |}
         |${ev.value} = UTF8String.fromBytes($out);
         |""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ReverseComplement =
    copy(child = newChild)
}

/** fnv1a64(str) — the deterministic 64-bit FNV-1a hash used by the dedup
  * operators (DedupOps.fnv1a64), as a codegen'd expression. Hashes the
  * UTF-16 code units to match the Scala implementation exactly. */
case class Fnv1a64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "fnv1a64"

  protected override def nullSafeEval(input: Any): Any =
    graft.operators.DedupOps.fnv1a64(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""java.lang.String $s = $c.toString();
         |long $h = 0xcbf29ce484222325L;
         |for (int $i = 0; $i < $s.length(); $i++) {
         |  $h ^= $s.charAt($i);
         |  $h *= 0x100000001b3L;
         |}
         |${ev.value} = $h;
         |""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Fnv1a64 =
    copy(child = newChild)
}

/** Lower- and upper-casing of graft's text, with the results of Spark's
  * `lower`/`upper` on default (UTF8_BINARY) strings under Spark's default
  * ICU case mapping: an all-ASCII string maps byte by byte; any other
  * string is made valid UTF-8 (`UTF8String.toValidString`) and mapped by
  * ICU's full case mapping in the JVM's default locale.
  *
  * Spark makes that same ICU call through `CollationAwareUTF8String`,
  * whose static initializer first asks ICU for the title case of all
  * 1,114,112 code points, a table `lower` and `upper` never read. A JVM
  * pays that once, at its first text query, and it takes seconds, which
  * every one-shot CLI call pays again. These expressions make the ICU
  * call directly, so the table is never built and every result is the
  * one Spark's `lower`/`upper` would give (`CaseMapSpec` compares them
  * on every code point).
  *
  * Like Spark's `Lower`, each takes string input with implicit cast, is
  * null-intolerant and keeps the child's nullability, so plans keep
  * their inferred `IsNotNull` filters. They are not registered as SQL
  * functions; SQL text keeps Spark's `lower`/`upper`.
  */
private[graft] object CaseMap {

  def toLower(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  def toUpper(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toUpperCaseAscii
    else UTF8String.fromString(UCharacter.toUpperCase(s.toValidString))

  def lower(c: Column): Column = ColumnBridge.column(Lower(ColumnBridge.expression(c)))

  def upper(c: Column): Column = ColumnBridge.column(Upper(ColumnBridge.expression(c)))

  /** A case mapping, codegen'd as a static call of `CaseMap.<method>`.
    * The pretty name is Spark's, so unaliased output columns keep their
    * names. Serializable itself because Java serialization of a task's
    * plan needs a no-argument constructor on the first superclass that
    * is not. */
  sealed abstract class CaseMapping(name: String, method: String)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {

    protected def map(s: UTF8String): UTF8String

    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = name

    protected override def nullSafeEval(input: Any): Any = map(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.CaseMap.$method($c)")
  }

  case class Lower(child: Expression) extends CaseMapping("lower", "toLower") {
    protected def map(s: UTF8String): UTF8String = toLower(s)
    override protected def withNewChildInternal(newChild: Expression): Lower =
      copy(child = newChild)
  }

  case class Upper(child: Expression) extends CaseMapping("upper", "toUpper") {
    protected def map(s: UTF8String): UTF8String = toUpper(s)
    override protected def withNewChildInternal(newChild: Expression): Upper =
      copy(child = newChild)
  }
}

/** cosine_similarity(array<double>, array<double>) — codegen'd cosine over
  * ArrayData with zero boxing (a ScalaUDF deserializes both arrays to
  * Seq[Double] per call — ruinous inside pair joins). Sums run
  * left-to-right in double precision, bit-identical to
  * [[graft.operators.SimilarityOps.cosine]]'s former UDF and to DuckDB's
  * list_cosine_similarity over DOUBLE[]. Elements must be non-null. */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity needs two array<double> arguments, got " +
          s"${left.dataType} and ${right.dataType}")
  }

  protected override def nullSafeEval(input1: Any, input2: Any): Any = {
    val a = input1.asInstanceOf[ArrayData]
    val b = input2.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    val nn = math.sqrt(na) * math.sqrt(nb)
    if (nn == 0.0) 0.0 else d / nn
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val nn = ctx.freshName("nn")
      s"""int $n = Math.min($a.numElements(), $b.numElements());
         |double $d = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i);
         |  double $y = $b.getDouble($i);
         |  $d += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $nn = Math.sqrt($na) * Math.sqrt($nb);
         |${ev.value} = ($nn == 0.0) ? 0.0 : $d / $nn;
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Column-API + SQL-registry access to the native expressions. */
object GraftFunctions {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  def reverseComplement(c: Column): Column =
    ColumnBridge.column(ReverseComplement(ColumnBridge.expression(c)))

  def fnv1a64(c: Column): Column =
    ColumnBridge.column(Fnv1a64(ColumnBridge.expression(c)))

  def cosineSimilarity(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  val registry: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("reverse_complement"),
      new ExpressionInfo(classOf[ReverseComplement].getName, "reverse_complement"),
      (args: Seq[Expression]) => ReverseComplement(args.head)),
    (FunctionIdentifier("fnv1a64"),
      new ExpressionInfo(classOf[Fnv1a64].getName, "fnv1a64"),
      (args: Seq[Expression]) => Fnv1a64(args.head)),
    (FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))))

  /** Imperative registration on an existing session. */
  def register(spark: SparkSession): Unit =
    registry.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
