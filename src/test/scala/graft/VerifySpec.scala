package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The JSON string literals the runners write into their artifacts. */
class VerifySpec extends AnyFunSuite {
  test("jsonString escapes quote, backslash, tab and control chars") {
    val raw = "a\"b\\c\td\u0001e/f"
    val lit = Verify.jsonString(raw)
    assert(lit == "\"a\\\"b\\\\c\\td\\u0001e/f\"")
    assert(new ObjectMapper().readValue(lit, classOf[String]) == raw)
    // a plain path passes through unchanged
    assert(Verify.jsonString("testdata/sf0.1") == "\"testdata/sf0.1\"")
  }
}
