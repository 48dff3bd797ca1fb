#!/usr/bin/env python3
"""Regenerate expected_headline.json: the DuckDB oracle results of the 23
headline queries on the workload's benchmark tables, in the summary form
of check.py. Running the oracles costs more than a run can spare, so the
benchmark stores their results.

    python3 perfbench/make_expected.py     # from the checkout root
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import common  # noqa: E402
import datagen  # noqa: E402
from headline import (EXPECTED, Headline, headline_names,  # noqa: E402
                      oracle_summaries)


def main() -> None:
    data_dir = datagen.ensure(common.WORK, Headline.SCALE)
    summaries = oracle_summaries(data_dir, headline_names())
    with open(EXPECTED, "w") as fh:
        json.dump({"scale": Headline.SCALE, "queries": summaries}, fh,
                  indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
