"""Reproduce defect (c) of perfbench/DEFECTS.md without Spark.

    python3 perfbench/defects.py

Truncates every image of a small ``datagen`` payload corpus three ways and
sorts what ``codec.png.decode_image`` does with each: raise ``ValueError``
(which ``operators.validate`` turns into a failed row), raise anything else
(which escapes the pandas UDF and aborts the whole Spark job), or decode.
"""

from __future__ import annotations

import collections
import os
import sys

sys.path.insert(0, os.getcwd())

from dotnetspider_spark.codec.png import decode_image  # noqa: E402
from dotnetspider_spark.testing.datagen import CorpusConfig, corpus_row  # noqa: E402


def main() -> None:
    cfg = CorpusConfig(n_pages=200, n_hosts=4, seed=3)
    outcomes = collections.Counter()
    for i in range(cfg.n_pages):
        row = corpus_row(i, cfg)
        data, fmt = row["bytes"], row["fmt"]
        for cut_name, cut in (("half", len(data) // 2), ("minus1", len(data) - 1),
                              ("minus16", len(data) - 16)):
            try:
                decode_image(data[:cut], fmt)
                outcome = "decoded"
            except (ValueError, NotImplementedError):
                outcome = "ValueError (row fails)"
            except Exception as e:  # what escapes validate's handler
                outcome = f"{type(e).__module__}.{type(e).__name__} (job aborts)"
            outcomes[(fmt, cut_name, outcome)] += 1
    for (fmt, cut_name, outcome), n in sorted(outcomes.items()):
        print(f"{fmt:5s} {cut_name:8s} {outcome:40s} {n}")


if __name__ == "__main__":
    main()
