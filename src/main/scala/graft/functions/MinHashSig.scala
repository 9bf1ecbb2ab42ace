package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** MinHash signature of one row's shingle set as a native per-row kernel:
  * ARRAY<STRING> of shingles → the `bands·rows` mins as 8-char lowercase
  * hex, element `j·rows + c` being the minimum over shingles of digest
  * bytes 4c..4c+3 of md5(UTF-8 "j|" + shingle), read as an unsigned
  * big-endian int.
  *
  * Bit-identical to the relational spelling it replaces — explode, one
  * `md5(concat('j|', sh))` per band, then `min(substring(h_j, 8c+1, 8))`
  * per doc — because equal-length lowercase hex orders exactly like the
  * unsigned int it prints, so the min is taken over ints and printed once.
  * Null shingles are skipped, as `min` skips them; a row with no non-null
  * shingle yields null (every `min` of the old spelling was null). One
  * loop per row: no explode, no per-shingle rows, no shuffle, so batch
  * and streaming share it. Eval and codegen both call [[MinHashSig.compute]].
  */
case class MinHashSig(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {
  require(bands >= 1 && rows >= 1 && rows <= 4,
    s"minhash_sig: need bands >= 1 and 1 <= rows <= 4, got $bands x $rows")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires ARRAY<STRING>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.functions.MinHashSig.compute($a, $bands, $rows);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  private val md5 = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))
  private val hexDigits = "0123456789abcdef".getBytes(UTF_8)

  /** The signature of one shingle array, or null if it has no non-null
    * element. Shared by interpreted eval and codegen. */
  def compute(shs: ArrayData, bands: Int, rows: Int): ArrayData = {
    val md = md5.get()
    val seeds = Array.tabulate(bands)(j => s"$j|".getBytes(UTF_8))
    val mins = Array.fill(bands * rows)(Long.MaxValue)
    var seen = false
    var i = 0
    while (i < shs.numElements()) {
      if (!shs.isNullAt(i)) {
        seen = true
        val sh = shs.getUTF8String(i).getBytes
        var j = 0
        while (j < bands) {
          md.update(seeds(j))
          val h = md.digest(sh)
          var c = 0
          while (c < rows) {
            val v = ((h(4 * c) & 0xffL) << 24) | ((h(4 * c + 1) & 0xffL) << 16) |
              ((h(4 * c + 2) & 0xffL) << 8) | (h(4 * c + 3) & 0xffL)
            val k = j * rows + c
            if (v < mins(k)) mins(k) = v
            c += 1
          }
          j += 1
        }
      }
      i += 1
    }
    if (!seen) null
    else new GenericArrayData(mins.map { v =>
      val b = new Array[Byte](8)
      var p = 0
      while (p < 8) { b(p) = hexDigits(((v >>> (28 - 4 * p)) & 0xf).toInt); p += 1 }
      UTF8String.fromBytes(b): Any
    })
  }

  /** The `bands·rows` MinHash values of a shingle-array column. */
  def of(shs: Column, bands: Int, rows: Int): Column =
    column(MinHashSig(expression(shs), bands, rows))
}
