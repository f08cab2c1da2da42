"""oracle.py renders values as the harness's Digest does (SelfTest.scala
checks the same vectors on the Scala side). Run: python3 perfbench/test/test_oracle.py
"""
import datetime
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import oracle  # noqa: E402

CASES = [
    (2.5, "25000"), (0.12344, "1234"), (0.12346, "1235"), (float("nan"), "NaN"),
    (None, "\\N"), (7, "7"), (True, "true"), ("x", "x"),
    (datetime.datetime(1970, 1, 1, 0, 0, 1, 5), "t1000005"),
    (datetime.date(1970, 1, 3), "d2"),
]


def main():
    bad = [(v, oracle.render(v), want) for v, want in CASES if oracle.render(v) != want]
    rows = [(1, 2.5, "x"), (2, 0.125, None)]
    swapped = [(c, b, a) for a, b, c in reversed(rows)]
    if oracle.digest(["a", "b", "c"], rows) != oracle.digest(["c", "b", "a"], swapped):
        bad.append(("digest order", None, None))
    for b in bad:
        print("FAIL", b)
    print("PASS oracle rendering" if not bad else f"{len(bad)} oracle check(s) failed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
