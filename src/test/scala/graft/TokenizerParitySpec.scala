package graft

import graft.text.Tokenizer
import org.scalatest.funsuite.AnyFunSuite

class TokenizerParitySpec extends AnyFunSuite {
  test("BM25 tokenizer matches the reference") {
    Golden.elems(Golden.load("tokenizer_cases.json")).foreach { c =>
      val text = c.get("text").asText()
      assert(Tokenizer.tokenize(text) == Golden.strings(c.get("tokens")),
        s"tokens for [$text]")
    }
  }

  test("stoplist and fallback semantics") {
    assert(Tokenizer.tokenize("a an the of") == Vector("a", "an", "the", "of"))
    assert(Tokenizer.tokenize("the spark engine") == Vector("spark", "engine"))
    assert(Tokenizer.tokenize("") == Vector.empty)
  }

  test("token length counts code points, as Python's len does") {
    assert(Tokenizer.tokenize("𝑥 spark 𠀀 data") == Vector("spark", "data"))
    assert(Tokenizer.tokenize("𝑥 𠀀") == Vector("𝑥", "𠀀"))
    assert(Tokenizer.tokenize("𝑥𝑦 𝔘") == Vector("𝑥𝑦"))
  }
}
