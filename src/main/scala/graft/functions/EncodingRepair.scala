package graft.functions

import java.nio.CharBuffer
import java.nio.charset.{CharacterCodingException, Charset, CodingErrorAction}

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level encoding repair — the second half of the reference's F9
  * (`Conversor de Formatos.py:105-136`): text that was UTF-8 on disk
  * but decoded as cp1252 ("Ã§Ã£o" mojibake) is repaired by the inverse
  * byte round-trip `encode(cp1252) → decode(utf-8)`, falling back to
  * iso-8859-1, and returning the input untouched when neither
  * round-trip yields valid UTF-8.
  *
  * Both legs are STRICT (CodingErrorAction.REPORT, matching Python's
  * default-raising `str.encode`/`bytes.decode`): a clean string with
  * real accents fails the decode leg and passes through unchanged, so
  * the repair is safe to apply to whole columns — mojibake is fixed,
  * everything else is the identity. Note the five cp1252-undefined
  * bytes (0x81, 0x8D, 0x8F, 0x90, 0x9D): a UTF-8 sequence containing
  * them (e.g. 'Á' = C3 81) cannot have been produced by a cp1252
  * mis-decode in the first place (that decode is lossy → U+FFFD);
  * their real-world corruption is the latin-1 mis-decode, which the
  * fallback leg repairs.
  *
  * Exposed as the named Catalyst expression `repair_encoding`
  * (SURVEY §2.12 sanctioned the JVM-codec escape hatch here as a
  * Scala UDF; a CodegenFallback expression is the stronger form —
  * named in SQL text, null-safe by construction, visible to the
  * analyzer — the codec machinery itself still has no codegen
  * equivalent). It stays off hot paths — the regex library repair
  * (`Scalars.mojibakePairs`) is the codegen'd scan-speed variant for
  * known patterns.
  */
object EncodingRepair {

  private def strictRoundTrip(s: String, charsetName: String): Option[String] =
    try {
      val bytes = Charset.forName(charsetName).newEncoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
        .encode(CharBuffer.wrap(s))
      val repaired = Charset.forName("UTF-8").newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
        .decode(bytes)
      Some(repaired.toString)
    } catch { case _: CharacterCodingException => None }

  /** cp1252→utf8 repair with iso-8859-1 fallback; identity on strings
    * that aren't mis-decoded UTF-8 (including all pure ASCII). */
  def repairEncoding(s: String): String =
    if (s == null) null
    else strictRoundTrip(s, "windows-1252")
      .orElse(strictRoundTrip(s, "ISO-8859-1"))
      .getOrElse(s)

  def repair(c: Column): Column =
    GraftBridge.toColumn(RepairEncoding(GraftBridge.toExpression(c)))
}

/** `repair_encoding(string) → string` — see [[EncodingRepair]]. */
case class RepairEncoding(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "repair_encoding"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"repair_encoding expects string, got ${child.dataType.simpleString}")
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      EncodingRepair.repairEncoding(input.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
