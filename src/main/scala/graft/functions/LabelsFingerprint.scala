package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Series-identity fingerprint of a label map in ONE compiled pass:
  * sort entries by key, render the canonical sorted-key JSON object with
  * Jackson-compatible escaping, xxhash64 (seed 42) the UTF-8 bytes —
  * bit-identical to the composed
  * `xxhash64(to_json(map_from_entries(array_sort(map_entries(m)))))`
  * (FingerprintSpec keeps that form as its differential-test oracle).
  *
  * Why native: `to_json` is a CodegenFallback — it severs the whole-stage
  * codegen span of every projection it appears in, and the fingerprint is
  * computed per ROW in every ingest decode, the store build, and the
  * logs/series derivations under the LogQL paths. Keys sort in UTF8
  * binary order (what `array_sort` uses on strings), not Java's UTF-16
  * `String` order — they differ beyond ASCII.
  */
object LabelsFingerprintUtil extends Serializable {

  private def jsonEscape(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\f' => sb.append("\\f")
        case '\r' => sb.append("\\r")
        case c if c < ' ' => sb.append("\\u").append(f"${c.toInt}%04X")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"'): Unit
  }

  def fingerprint(m: MapData): Long = {
    val n = m.numElements()
    val ks = m.keyArray(); val vs = m.valueArray()
    val idx = new Array[Integer](n)
    val keys = new Array[UTF8String](n)
    var i = 0
    while (i < n) { idx(i) = i; keys(i) = ks.getUTF8String(i); i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int =
        keys(a).compareTo(keys(b))
    })
    val sb = new java.lang.StringBuilder(64)
    sb.append('{')
    i = 0
    while (i < n) {
      if (i > 0) sb.append(',')
      val j = idx(i)
      jsonEscape(sb, keys(j).toString)
      sb.append(':')
      if (vs.isNullAt(j)) sb.append("null")
      else jsonEscape(sb, vs.getUTF8String(j).toString)
      i += 1
    }
    sb.append('}')
    val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
  }
}

case class LabelsFingerprint(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (MapMergeTypes.isStrMap(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"labels_fingerprint needs map<string,string>, got ${child.dataType.simpleString}")

  override def nullSafeEval(a: Any): Any =
    LabelsFingerprintUtil.fingerprint(a.asInstanceOf[MapData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val util = ctx.addReferenceObj("labelsFingerprintUtil", LabelsFingerprintUtil,
        LabelsFingerprintUtil.getClass.getName.stripSuffix("$") + "$")
      s"${ev.value} = $util.fingerprint($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): LabelsFingerprint =
    copy(child = newChild)
}

object LabelsFingerprintFn {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def of(labels: Column): Column =
    ColumnBridge.column(LabelsFingerprint(ColumnBridge.expr(labels)))
}
