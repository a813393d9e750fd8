"""The oracle's own check, on a small corpus worked by hand.

    python3 perfbench/test_oracle.py      (or: python3 -m pytest perfbench)
"""

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from oracle import Corpus, check_topk, tokenize, top_k  # noqa: E402

# doc 0: the cat sat ''        (dl 4; the full stop leaves an empty token)
# doc 1: '' cat dog            (dl 3; a leading "-" leaves an empty token)
# doc 2: dog cat cat sat       (dl 4; no-break and ideographic spaces split)
# doc 3: the end of the line   (dl 5; U+2028 and U+FEFF are JS whitespace)
TEXTS = [
    "The cat sat.",
    "- cat, dog",
    "Dog\u00a0cat  CAT\u3000sat",
    "  the-end\tof\u2028the\ufeffline  ",
]


def corpus() -> Corpus:
    c = Corpus()
    c.add(range(4), TEXTS)
    return c


def test_tokenize():
    assert tokenize("") == [""]
    assert tokenize(TEXTS[0]) == ["the", "cat", "sat", ""]
    assert tokenize(TEXTS[1]) == ["", "cat", "dog"]
    assert tokenize(TEXTS[2]) == ["dog", "cat", "cat", "sat"]
    assert tokenize(TEXTS[3]) == ["the", "end", "of", "the", "line"]
    # Python counts U+001C and U+0085 as whitespace; JavaScript does not
    assert tokenize("a\x1cb") == ["a\x1cb"]
    assert tokenize("\x85x") == ["\x85x"]
    assert tokenize("\ufeffHi;;there") == ["hi", "there"]


def ids(c, q):
    return c.match(q).tolist()


def test_boolean_and_prefix():
    c = corpus()
    assert ids(c, ("tok", "cat")) == [0, 1, 2]
    assert ids(c, ("tok", "the")) == [0, 3]
    assert ids(c, ("tok", "absent")) == []
    assert ids(c, ("and", [("tok", "cat"), ("not", ("tok", "dog"))])) == [0]
    assert ids(c, ("or", [("tok", "dog"), ("tok", "of")])) == [1, 2, 3]
    assert ids(c, ("not", ("tok", "cat"))) == [3]
    assert ids(c, ("prefix", "ca")) == [0, 1, 2]
    assert ids(c, ("prefix", "t")) == [0, 3]


def test_phrase_and_slop():
    c = corpus()
    assert ids(c, ("phrase", ("cat", "sat"), 0)) == [0, 2]
    assert ids(c, ("phrase", ("sat", "cat"), 0)) == []  # order matters
    assert ids(c, ("phrase", ("dog", "sat"), 1)) == []  # gap of 2 in doc 2
    assert ids(c, ("phrase", ("dog", "sat"), 2)) == [2]
    assert ids(c, ("phrase", ("the", "the"), 1)) == []
    assert ids(c, ("phrase", ("the", "the"), 2)) == [3]
    assert ids(c, ("phrase", ("dog", "cat", "cat"), 0)) == [2]


def test_deletes_hide_docs():
    c = corpus()
    c.delete([0])
    assert ids(c, ("tok", "cat")) == [1, 2]
    assert ids(c, ("not", ("tok", "cat"))) == [3]
    assert 0 not in c.bm25(["cat"])


def test_bm25_by_hand():
    c = corpus()
    assert c.n_docs == 4 and c.avgdl == 4.0
    idf_dog = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))  # = ln 2
    idf_cat = math.log(1 + (4 - 3 + 0.5) / (3 + 0.5))  # = ln 10/7

    def norm(tf, dl):
        return tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 4.0))

    want = {
        0: idf_cat * norm(1, 4),
        1: idf_cat * norm(1, 3) + idf_dog * norm(1, 3),
        2: idf_cat * norm(2, 4) + idf_dog * norm(1, 4),
    }
    got = c.bm25(["cat", "dog", "cat"])
    assert got.keys() == want.keys()
    for d in want:
        assert math.isclose(got[d], want[d], rel_tol=1e-12)
    assert [d for d, _ in top_k(got, 3)] == [2, 1, 0]
    assert c.bm25(["cat", "dog"], mode="and").keys() == {1, 2}
    assert c.bm25(["cat", "absent"], mode="and") == {}
    # deletes leave N, df and avgdl alone
    c.delete([2])
    after = c.bm25(["cat", "dog"])
    assert after.keys() == {0, 1} and math.isclose(after[1], want[1], rel_tol=1e-12)


def test_check_topk():
    scores = {1: 3.0, 2: 2.0, 3: 2.0 * (1 + 1e-12), 4: 1.0}
    assert check_topk([(1, 3.0), (3, scores[3]), (2, 2.0)], scores, 3) is None
    assert check_topk([(1, 3.0), (2, 2.0), (3, scores[3])], scores, 3) is None  # near tie
    assert check_topk([(1, 3.0), (2, 2.0)], scores, 3) is not None  # too few
    assert check_topk([(1, 3.0), (4, 1.0), (2, 2.0)], scores, 3) is not None  # wrong doc
    assert check_topk([(1, 3.1), (3, scores[3]), (2, 2.0)], scores, 3) is not None  # wrong score
    assert check_topk([(1, 3.0), (1, 3.0), (2, 2.0)], scores, 3) is not None  # duplicate


if __name__ == "__main__":
    tests = [(n, f) for n, f in sorted(globals().items()) if n.startswith("test_")]
    for name, fn in tests:
        fn()
        print(f"ok {name}")
    print(f"{len(tests)} passed")
