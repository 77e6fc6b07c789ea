package graft.functions.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point registering the engine's native
  * expressions as SQL functions, so `spark.sql("SELECT vec_dot(a, b)")`
  * and `simhash64(tokens)` work next to the builtins. Every session
  * built by [[graft.GraftSession.builder]] carries them; a session built
  * elsewhere can load them through its config:
  *
  * {{{
  * --conf spark.sql.extensions=graft.functions.expressions.GraftExtensions
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.vecDot)
    ext.injectFunction(GraftExtensions.simHash64)
    ext.injectFunction(GraftExtensions.minShingleMd5)
    ext.injectFunction(GraftExtensions.vecScale)
    ext.injectFunction(GraftExtensions.redactPii)
    ext.injectFunction(GraftExtensions.nfcNormalize)
    ext.injectFunction(GraftExtensions.vecMaxAbs)
    ext.injectFunction(GraftExtensions.jaroWinkler)
    ext.injectFunction(GraftExtensions.signBits64)
    ext.injectFunction(GraftExtensions.hilbertKey)
  }
}

object GraftExtensions {

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val vecDot: FunctionDescription = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "vec_dot(arrayA, arrayB)")
      VecDot(children.head, children(1))
    })

  val simHash64: FunctionDescription = (
    FunctionIdentifier("simhash64"),
    new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "simhash64(arrayOfTokens)")
      SimHash64(children.head)
    })

  val vecScale: FunctionDescription = (
    FunctionIdentifier("vec_scale"),
    new ExpressionInfo(classOf[VecScale].getName, "vec_scale"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "vec_scale(array, scalar)")
      VecScale(children.head, children(1))
    })

  val signBits64: FunctionDescription = (
    FunctionIdentifier("sign_bits64"),
    new ExpressionInfo(classOf[SignBits64].getName, "sign_bits64"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "sign_bits64(array)")
      SignBits64(children.head)
    })

  val jaroWinkler: FunctionDescription = (
    FunctionIdentifier("jaro_winkler"),
    new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "jaro_winkler(stringA, stringB)")
      JaroWinkler(children.head, children(1))
    })

  val minShingleMd5: FunctionDescription = (
    FunctionIdentifier("min_shingle_md5"),
    new ExpressionInfo(classOf[MinShingleMd5].getName, "min_shingle_md5"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "min_shingle_md5(text, n)")
      val n = children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int,
          org.apache.spark.sql.types.IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"min_shingle_md5 length must be an int literal, got $other")
      }
      MinShingleMd5(children.head, n)
    })

  /** `redact_pii(text)` — the PII scrub as a SQL function: a builder
    * that EXPANDS to the same nested codegen'd RegExpReplace chain
    * `TextOps.redactPii` composes, so SQL users and DataFrame users
    * share one pattern source (an injected function need not be a new
    * Expression class — composition registers just as well).
    */
  val redactPii: FunctionDescription = (
    FunctionIdentifier("redact_pii"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.RegExpReplace].getName,
      "redact_pii"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "redact_pii(text)")
      import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace}
      import graft.functions.TextOps
      val email = RegExpReplace(children.head,
        Literal(TextOps.emailPattern), Literal("<EMAIL>"))
      val ip = RegExpReplace(email,
        Literal(TextOps.ipv4Pattern), Literal("<IP>"))
      RegExpReplace(ip, Literal(TextOps.phonePattern), Literal("<PHONE>"))
    })

  val nfcNormalize: FunctionDescription = (
    FunctionIdentifier("nfc_normalize"),
    new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "nfc_normalize(text)")
      NfcNormalize(children.head)
    })

  val vecMaxAbs: FunctionDescription = (
    FunctionIdentifier("vec_max_abs"),
    new ExpressionInfo(classOf[VecMaxAbs].getName, "vec_max_abs"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "vec_max_abs(array)")
      VecMaxAbs(children.head)
    })

  /** Hilbert index of two pre-quantized bigint bucket columns at the
    * 16-bit default order (65536² grid) — the SQL face of
    * [[graft.operators.Layout.hilbertKey]].
    */
  val hilbertKey: FunctionDescription = (
    FunctionIdentifier("hilbert_key"),
    new ExpressionInfo(classOf[HilbertKey].getName, "hilbert_key"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "hilbert_key(xBigint, yBigint)")
      HilbertKey(children.head, children(1), bits = 16)
    })
}
