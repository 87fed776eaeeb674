package graft

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("Json.str escapes quote, backslash and control characters into parseable JSON") {
    val raw = "a\"b\\c\nd\re\tf\u0001g"
    val lit = Json.str(raw)
    assert(lit == "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\"")
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readValue(lit, classOf[String])
    assert(parsed == raw)
  }
}
