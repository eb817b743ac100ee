package graft

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("quote escapes quote, backslash and control chars") {
    assert(Json.quote("plain") == "\"plain\"")
    assert(Json.quote("a\"b") == "\"a\\\"b\"")
    assert(Json.quote("a\\b") == "\"a\\\\b\"")
    assert(Json.quote("a\nb\rc\td") == "\"a\\nb\\rc\\td\"")
    assert(Json.quote("x\u0001y") == "\"x\\u0001y\"")
    assert(Json.quote("한국어 ok") == "\"한국어 ok\"")
  }
}
