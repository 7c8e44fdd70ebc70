#!/usr/bin/env python3
"""Traffic statistics of a test fixture, the measured basis of some of the
generators' parameters (see README.md, "Traffic parameters").

    python3 perfbench/fixture_stats.py <fixture dir, e.g. the sf0.1 tables>

Reads `documents.parquet` and `events.parquet` with DuckDB and prints one
JSON object: tokens per document, vocabulary size and rank-frequency slope,
NULL share and spread of `source`, exact-duplicate share, and keys, events
and events per key of the event log. Needs the `duckdb` Python module; the
benchmark itself does not run this script.
"""
import json
import math
import os
import sys

import duckdb


def zipf_slope(freqs):
    """Least-squares slope of log(frequency) on log(rank): -s of a Zipf(s) law."""
    xs = [math.log(r) for r in range(1, len(freqs) + 1)]
    ys = [math.log(f) for f in freqs]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum((x - mx) ** 2 for x in xs)


def main():
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    d = sys.argv[1]
    docs = "'" + os.path.join(d, "documents.parquet") + "'"
    events = "'" + os.path.join(d, "events.parquet") + "'"
    con = duckdb.connect()
    q = lambda sql: con.execute(sql).fetchall()
    tokens = f"(select unnest(string_split(text, ' ')) w from {docs}) where w <> ''"
    freqs = [r[0] for r in q(f"select count(*) c from {tokens} group by w order by c desc")]
    lengths = q(f"select quantile_cont(n, [0, 0.25, 0.5, 0.75, 1]) "
                f"from (select len(string_split(text, ' ')) n from {docs})")[0][0]
    n_docs, null_src, n_src, dup_docs = q(
        f"select count(*), count(*) filter (where source is null), count(distinct source), "
        f"count(*) - count(distinct text) from {docs}")[0]
    per_key = q(f"select quantile_cont(c, [0, 0.5, 1]), avg(c), stddev_pop(c), count(*), sum(c) "
                f"from (select user_id, count(*) c from {events} group by user_id)")[0]
    print(json.dumps({
        "documents": {
            "docs": n_docs,
            "tokens_per_doc_min_q1_median_q3_max": lengths,
            "vocabulary": len(freqs),
            "top_freq_over_30th_freq": freqs[0] / freqs[min(29, len(freqs) - 1)],
            "rank_frequency_slope": zipf_slope(freqs),
            "source_null_share": null_src / n_docs,
            "sources": n_src,
            "exact_duplicate_share": dup_docs / n_docs,
        },
        "events": {
            "keys": per_key[3], "events": int(per_key[4]),
            "events_per_key_min_median_max": per_key[0],
            "events_per_key_mean": per_key[1], "events_per_key_sd": per_key[2],
            "uniform_draw_sd": math.sqrt(per_key[1] * (1 - 1 / per_key[3])),
        },
    }, indent=1))


if __name__ == "__main__":
    main()
