package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.util.regex.Pattern

/** Single-pass evaluator for the J1 per-row regex triple (reference
  * `cmr-query/handler.py:10-101`): product-id extraction
  * (`regexp_extract(url, R, 0)`), asset-name substitution
  * (`regexp_replace(url, ".*R[-_.]?", "")`) and the data-file match
  * (`rlike("R.*D")`) — three separate regex passes in the declarative
  * twin ([[graft.operators.MultiAsset.partsTwin]]), one UTF8String →
  * String materialization and an early-out here. The java.util.regex
  * semantics of each leg are preserved EXACTLY (same Pattern
  * machinery, same patterns), so twin parity is by construction, not
  * by test-data luck; when the data-file pattern is literal modulo
  * escapes, a codegen'd-cheap `String.contains` rejects rows before
  * the third regex ever runs (the r11-measured prefilter win, now
  * inside the fused pass). */
final class MultiAssetCore(dataFileRegex: String, dataFile: String)
  extends Serializable {

  @transient private lazy val pidPat = Pattern.compile(dataFileRegex)
  @transient private lazy val assetPat =
    Pattern.compile(".*" + dataFileRegex + "[-_.]?")
  @transient private lazy val dataPat =
    Pattern.compile(dataFileRegex + ".*" + dataFile)
  private val dataLit: String =
    graft.operators.MultiAsset.literalOf(dataFile).orNull

  /** NULL = the url carries no (non-empty) product-id match — exactly
    * the rows `when(regexp_extract(...) =!= "", ...)` nulls out, which
    * the operator filters away before grouping. */
  def parts(url: UTF8String): InternalRow = {
    val s = url.toString
    val m = pidPat.matcher(s)
    // regexp_extract takes the FIRST match even if empty; an empty
    // first match means pid == "" which the twin maps to null
    if (!m.find() || m.end() == m.start()) return null
    val pid = s.substring(m.start(), m.end())
    val asset = assetPat.matcher(s).replaceAll("")
    val isData = (dataLit == null || s.contains(dataLit)) &&
      dataPat.matcher(s).find()
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(pid), UTF8String.fromString(asset), isData))
  }
}

/** J1's per-row work as ONE native Catalyst expression returning
  * `struct<product_id, asset_name, is_data>` (NULL when the url has
  * no product match). Registered as the SQL function
  * `multi_asset_parts(url, data_file_regex, data_file)` by
  * [[graft.GraftFunctions]]; the pattern arguments must be foldable
  * (they compile once per executor, not per row). Full codegen keeps
  * the projection inside WholeStageCodegen. */
case class MultiAssetPartsExpr(url: Expression, regex: Expression,
                               dataFile: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(url, regex, dataFile)
  override def nullable: Boolean = true
  // The evaluator is pure, but declaring it non-deterministic stops the
  // optimizer's filter-pushdown alias substitution from duplicating the
  // three-regex pass: `select(parts).filter(isnotnull(parts))` was
  // planned as Filter(isnotnull(multiassetpartsexpr(url))) BELOW the
  // Project that evaluates it again — 2x the dominant per-row cost of
  // the J1 map side (measured: core.parts is 0.55 s/600k rows
  // single-thread; the fused scan task paid ~1.1 s). Project it
  // before use: see the restriction in [[graft.GraftFunctions]].
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("product_id", StringType, nullable = false),
    StructField("asset_name", StringType, nullable = false),
    StructField("is_data", BooleanType, nullable = false)))

  @transient private lazy val core: MultiAssetCore = {
    def lit(e: Expression, what: String): String = {
      if (!e.foldable) throw new IllegalArgumentException(
        s"multi_asset_parts: $what must be a literal")
      val v = e.eval(null)
      if (v == null) throw new IllegalArgumentException(
        s"multi_asset_parts: $what must not be null")
      v.asInstanceOf[UTF8String].toString
    }
    new MultiAssetCore(lit(regex, "data_file_regex"),
      lit(dataFile, "data_file"))
  }

  override def eval(input: InternalRow): Any = {
    val u = url.eval(input)
    if (u == null) null else core.parts(u.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val u = url.genCode(ctx)
    val helper = ctx.addReferenceObj("maCore", core,
      classOf[MultiAssetCore].getName)
    ev.copy(code =
      code"""
        ${u.code}
        boolean ${ev.isNull} = true;
        InternalRow ${ev.value} = null;
        if (!${u.isNull}) {
          ${ev.value} = $helper.parts(${u.value});
          ${ev.isNull} = ${ev.value} == null;
        }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(url = newChildren(0), regex = newChildren(1),
      dataFile = newChildren(2))
}
