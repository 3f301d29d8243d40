package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for Unicode NFC normalization
  * (`nfc_normalize(str)`), the canonical first step of a text-dedup key:
  * visually identical strings that differ only in combining-character
  * encoding ("é" as U+00E9 vs "e"+U+0301) must collapse to one dedup
  * bucket, or near-duplicate detection under-counts across sources that
  * disagree on encoding form.
  *
  * Scale design: the hot path is the ASCII fast path. UTF-8 bytes == char
  * count means pure ASCII, which is NFC-invariant, so the input
  * UTF8String is returned untouched — zero allocation, no JNI-ish String
  * round-trip — and a web-scale corpus is overwhelmingly ASCII. Only rows
  * with multi-byte code points pay the `java.text.Normalizer` cost (which
  * requires a String round-trip; there is no streaming normalizer in the
  * JDK). Both paths stay inside whole-stage codegen.
  *
  * Semantics match DuckDB's `nfc_normalize(...)` (the oracle for the
  * `text_normalize_dedup` query): JDK and DuckDB both implement Unicode
  * canonical composition, which is stable across Unicode versions for
  * assigned code points.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression with KernelCall {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    KernelCall.check(this, "a string input")(_ == Seq(StringType))

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  def kernel(s: UTF8String): UTF8String = NfcNormalize.normalize(s)

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

object NfcNormalize {
  /** The normalization, outside any expression instance. ASCII fast path: a
    * UTF8String whose byte length equals its char count has no multi-byte
    * code points, and ASCII is already NFC — return the input as-is. */
  def normalize(s: UTF8String): UTF8String = {
    if (s.numBytes() == s.numChars()) s
    else {
      val str = s.toString
      if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
      else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
    }
  }
}
