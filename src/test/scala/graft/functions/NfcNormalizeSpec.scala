package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** NFC expression: composition ground truth, ASCII fast path, null
  * propagation, SQL registration — evaluated through a real query so
  * the codegen path (not just nullSafeEval) is exercised. */
class NfcNormalizeSpec extends SparkSpec {

  private def nfcOf(input: String): String = {
    import spark.implicits._
    Seq(input).toDF("s")
      .select(expr("nfc_normalize(s)").as("n"))
      .collect()(0).getString(0)
  }

  test("combining marks compose; singletons map to canonical form") {
    // e + U+0301 -> e-acute (U+00E9); o + U+0308 -> o-umlaut;
    // U+212B (Angstrom sign) -> U+00C5 (composed ring-A)
    assert(nfcOf("Café") == "Café")
    assert(nfcOf("ö") == "ö")
    assert(nfcOf("Å") == "Å")
    // already-composed text is untouched
    assert(nfcOf("Café") == "Café")
  }

  test("ASCII fast path returns the input object unchanged") {
    val s = UTF8String.fromString("plain ascii only")
    assert(NfcNormalize.nfc(s) eq s)
    // already-normalized non-ASCII also avoids reallocation
    val t = UTF8String.fromString("café")
    assert(NfcNormalize.nfc(t) eq t)
  }

  test("wrong arity is rejected, not silently truncated") {
    import spark.implicits._
    val df = Seq(("a", "b")).toDF("x", "y")
    // extra argument must ERROR — children.head would silently compute
    // nfc(x) and drop y
    val e1 = intercept[Exception] {
      df.select(expr("nfc_normalize(x, y)")).collect()
    }
    assert(e1.getMessage.contains("nfc_normalize"))
    val e2 = intercept[Exception] {
      df.select(expr("float_dot(array(1.0f))")).collect()
    }
    assert(e2.getMessage.contains("float_dot"))
  }

  test("null propagates; non-string input rejected at analysis") {
    import spark.implicits._
    val r = Seq[(Integer, String)]((1, null)).toDF("i", "s")
      .select(expr("nfc_normalize(s)")).collect()(0)
    assert(r.isNullAt(0))
    val err = intercept[Exception] {
      Seq(1).toDF("i").select(expr("nfc_normalize(i)")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("nfc_normalize"))
  }

  test("canonicalization pipeline: NFC + lower + whitespace collapse") {
    import spark.implicits._
    val out = Seq("Å  B\t\tCafé ").toDF("text")
      .select(graft.text.Normalize.canonical(col("text")).as("c"))
      .collect()(0).getString(0)
    assert(out == "å b café")
  }
}
