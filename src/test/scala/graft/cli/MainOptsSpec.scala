package graft.cli

import org.scalatest.funsuite.AnyFunSuite

/** The CLI's `--key value` parser: every key `usage()` lists parses, and
  * a misspelled key, a key with no value or a stray value is named
  * instead of silently dropped. */
class MainOptsSpec extends AnyFunSuite {

  test("listed keys parse to a map, the last of a repeated key winning") {
    assert(Main.parseOpts(Seq("--source", "5", "--dir", "in", "--alpha-shift", "-2")) ==
      Right(Map("source" -> "5", "dir" -> "in", "alpha-shift" -> "-2")))
    assert(Main.parseOpts(Seq("--seed", "1", "--seed", "2")) == Right(Map("seed" -> "2")))
    assert(Main.parseOpts(Nil) == Right(Map.empty))
  }

  test("an unknown key is named: sssp --sorce 5 does not run from vertex 0") {
    assert(Main.parseOpts(Seq("--sorce", "5")) == Left("unknown option: --sorce"))
    assert(Main.parseOpts(Seq("--k", "3", "--kk", "3")) == Left("unknown option: --kk"))
  }

  test("a key with no value is named") {
    assert(Main.parseOpts(Seq("--source")) == Left("missing value for option: --source"))
    assert(Main.parseOpts(Seq("--seed", "--k", "3")) ==
      Left("missing value for option: --seed"))
  }

  test("a stray value is named") {
    assert(Main.parseOpts(Seq("5")) == Left("unknown option: 5"))
    assert(Main.parseOpts(Seq("--k", "3", "4")) == Left("unknown option: 4"))
  }
}
