package graft.functions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.{col, expr}

import graft.SparkSpec

/** Pins the native normalization expression against the JDK reference on
  * inputs the synthetic corpus never exercises (combining marks,
  * compatibility forms), on BOTH the codegen and interpreted paths. */
class UnicodeNormalizeSpec extends SparkSpec {
  import spark.implicits._

  private val combining = "café" // "cafe" + combining acute
  private val precomposed = "café"     // "café"
  private val compat = "① ﬁle"    // circled one + fi ligature

  test("NFC: combining sequences fold to precomposed, codegen path") {
    val got = Seq(combining, precomposed, "plain ascii")
      .toDF("s")
      .select(expr("unicode_normalize(s, 'NFC')").as("n"), col("s"))
      .collect().map(r => (r.getString(1), r.getString(0))).toMap
    assert(got(combining) === precomposed)
    assert(got(precomposed) === precomposed) // already normalized: identity
    assert(got("plain ascii") === "plain ascii")
  }

  test("all four forms agree with java.text.Normalizer, interpreted path") {
    for (form <- Seq("NFC", "NFD", "NFKC", "NFKD"); s <- Seq(combining, precomposed, compat)) {
      val viaExpr = UnicodeNormalize(Literal(s), form).eval(null).toString
      val viaJdk = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.valueOf(form))
      assert(viaExpr === viaJdk, s"$form($s)")
    }
    // compatibility forms decompose the ligature/circled digit; canonical don't
    assert(UnicodeNormalize(Literal(compat), "NFKC").eval(null).toString === "1 file")
    assert(UnicodeNormalize(Literal(compat), "NFC").eval(null).toString === compat)
  }

  test("default form is NFC; null propagates; bad form fails at analysis") {
    val got = Seq(Some(combining), None).toDF("s")
      .selectExpr("unicode_normalize(s) as n").collect()
    assert(got.map(r => Option(r.getString(0))).toSet ===
      Set(Some(precomposed), None))
    intercept[IllegalArgumentException] {
      UnicodeNormalize(Literal("x"), "NFX")
    }
  }

  test("normalization changes the exact-dedup verdict (the motivating case)") {
    // same content, two encodings: raw md5 sees two documents, NFC md5 one
    val docs = Seq((1L, combining), (2L, precomposed)).toDF("doc_id", "text")
    val raw = docs.select(expr("md5(text)").as("h")).distinct().count()
    val nfc = docs.select(expr("md5(unicode_normalize(text, 'NFC'))").as("h"))
      .distinct().count()
    assert(raw === 2L && nfc === 1L)
  }
}
