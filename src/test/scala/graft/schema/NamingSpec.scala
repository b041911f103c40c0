package graft.schema

import org.scalatest.funsuite.AnyFunSuite

/** Cases mirror the reference convention's documented behavior
  * (dlt/common/normalizers/naming/snake_case.py:14-75). */
class NamingSpec extends AnyFunSuite {
  import Naming.normalizeIdentifier

  test("camel case breaks to snake") {
    assert(normalizeIdentifier("CamelCaseName") == "camel_case_name")
    assert(normalizeIdentifier("snake_case_name") == "snake_case_name")
    assert(normalizeIdentifier("HTTPResponse") == "http_response")
  }

  test("reduced alphabet translation + - * @ |") {
    assert(normalizeIdentifier("a+b") == "axb")
    assert(normalizeIdentifier("a-b") == "a_b")
    assert(normalizeIdentifier("a*b") == "axb")
    assert(normalizeIdentifier("a@b") == "aab")
    assert(normalizeIdentifier("a|b") == "alb")
  }

  test("non-alphanumerics collapse to single underscore") {
    assert(normalizeIdentifier("with space") == "with_space")
    assert(normalizeIdentifier("a.b.c") == "a_b_c")
    assert(normalizeIdentifier("a...b") == "a_b")
    assert(normalizeIdentifier("a__b") == "a_b")
  }

  test("leading digit gets underscore prefix") {
    assert(normalizeIdentifier("1col") == "_1col")
  }

  test("trailing underscores become x") {
    assert(normalizeIdentifier("col_") == "colx")
    assert(normalizeIdentifier("col__") == "colxx")
  }

  test("empty and whitespace keys become _empty") {
    assert(normalizeIdentifier("") == "_empty")
    assert(normalizeIdentifier("   ") == "_empty")
  }

  test("path fragments join with double underscore") {
    assert(Naming.normalizeTableName("parent__ChildList") == "parent__child_list")
  }

  test("over-long identifiers shorten deterministically with a tag") {
    val long = "a" * 300
    val out = Naming.normalizeIdentifier(long, maxLength = 64)
    assert(out.length <= 64)
    assert(out == Naming.normalizeIdentifier(long, maxLength = 64))
    assert(out != Naming.normalizeIdentifier("b" + long.drop(1), maxLength = 64))
  }
}
