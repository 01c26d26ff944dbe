"""Self-test of the benchmark's correctness checks (no Spark needed).

    python3 perfbench/selftest.py

Builds a correct crawl output for each workload from the benchmark's
own expectations, shows that every check accepts it, then feeds each
check one corrupted copy (a swapped trace row, one altered extracted
field, a doubled URL, ...) and shows that the check rejects it. Exits
non-zero if any check accepts a corrupted output or rejects a correct
one.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import pandas as pd  # noqa: E402

import inputs  # noqa: E402
from checks import (  # noqa: E402
    FIELD_SEP,
    Verdict,
    check_crawl_properties,
    check_detail_fields,
    check_extracted_golden,
    check_set_equals,
    check_trace_equals,
)


def bulk_output(n: int = 640, budget: int = 16):
    """A correct two-round crawl of ``n`` synthetic detail ids: each
    allowed host serves ``budget`` URLs per round, by id order."""
    base = inputs.id_base(3)
    rows, ranks = [], {}
    denied = queued_dl = 0
    for d in range(base, base + n):
        hid = inputs.host_id(d)
        if inputs.host_denied(hid):
            denied += 1
            continue
        k = ranks[hid] = ranks.get(hid, -1) + 1
        if k < 2 * budget:
            rows.append((k // budget + 1, d))
    rows.sort()
    trace = pd.DataFrame({
        "dequeue_seq": range(len(rows)),
        "round": [r for r, _ in rows],
        "url": [inputs.detail_url(d) for _, d in rows],
        "host": [inputs.host_of(d) for _, d in rows],
        "kind": "detail",
    })
    ext = []
    for _, d in rows:
        f = inputs.expected_detail(d)
        fields = [f["download_url"], f["image_url"], f["tags"], ""]
        ext.append([inputs.detail_url(d), *fields, FIELD_SEP.join(fields)])
        queued_dl += bool(f["download_url"])
    extracted = pd.DataFrame(ext, columns=[
        "url", "download_url", "image_url", "tags", "raw_download_link",
        "extracted_text"])
    queued = n - denied - len(rows) + queued_dl
    states = {"FETCHED": len(rows), "ROBOTS_DENIED": denied, "QUEUED": queued}
    return trace, extracted, states, len(rows) + denied + queued, budget


def check_bulk(trace, extracted, states, seen, budget, dupes=0) -> Verdict:
    v = Verdict()
    check_crawl_properties(v, trace, states, dupes, seen, budget, inputs.host_name_denied)
    check_detail_fields(v, trace, extracted)
    return v


def replay_output():
    from text2mc_dataprocessor_spark.plans.oracle import simulate_rounds
    from text2mc_dataprocessor_spark.sources.fixtures import generate_corpus

    corpus = generate_corpus(n_hosts=3, listing_pages_per_host=1,
                             links_per_listing=6, seed=5)
    oracle = simulate_rounds(corpus, politeness_budget=24)
    return oracle.trace_df(), set(oracle.seen), corpus.golden.copy(), oracle


def check_replay(trace, seen, extracted, oracle, golden) -> Verdict:
    v = Verdict()
    check_trace_equals(v, trace, oracle.trace_df(), "trace vs oracle")
    check_set_equals(v, seen, oracle.seen, "seen vs oracle")
    check_extracted_golden(v, extracted, golden)
    return v


def swap_rows(df: pd.DataFrame, i: int, j: int, cols) -> pd.DataFrame:
    df = df.copy()
    a, b = df.loc[i, cols].copy(), df.loc[j, cols].copy()
    df.loc[i, cols], df.loc[j, cols] = b.values, a.values
    return df


def doubled(df: pd.DataFrame, i: int) -> pd.DataFrame:
    row = df.iloc[[i]].copy()
    if "dequeue_seq" in df:
        row["dequeue_seq"] = df.dequeue_seq.max() + 1
    return pd.concat([df, row], ignore_index=True)


def altered(df: pd.DataFrame, i: int, col: str) -> pd.DataFrame:
    df = df.copy()
    df.loc[i, col] = df.loc[i, col] + "x"
    return df


def main() -> int:
    results = []

    def expect(name: str, v: Verdict, ok: bool) -> None:
        good = v.ok == ok and (ok or v.failed > 0)
        results.append(good)
        what = "accepted" if v.ok else f"rejected ({v.failed} failed: {v.problems[0]})"
        print(f"{'PASS' if good else 'FAIL'}  {name}: {what}")

    trace, ext, states, seen, budget = bulk_output()
    expect("bulk_extract correct output", check_bulk(trace, ext, states, seen, budget), True)
    expect("bulk_extract doubled URL",
           check_bulk(doubled(trace, 5), ext, states, seen, budget), False)
    host0 = trace.index[trace.host == inputs.host_of(0)]
    r2 = host0[trace["round"][host0] == 2][0]
    moved = trace.copy()
    moved.loc[r2, "round"] = 1  # a round-2 URL swapped into round 1
    expect("bulk_extract swapped trace row (budget exceeded)",
           check_bulk(moved, ext, states, seen, budget), False)
    expect("bulk_extract altered extracted field",
           check_bulk(trace, altered(ext, 7, "tags"), states, seen, budget), False)
    expect("bulk_extract altered extracted_text",
           check_bulk(trace, altered(ext, 8, "extracted_text"), states, seen, budget), False)
    d = int(inputs.id_base(3)) + 1  # hid 1 is robots-denied
    denied_row = pd.DataFrame({"dequeue_seq": [len(trace)], "round": [1],
                               "url": [inputs.detail_url(d)],
                               "host": [inputs.host_of(d)], "kind": ["detail"]})
    expect("bulk_extract denied host fetched",
           check_bulk(pd.concat([trace, denied_row], ignore_index=True),
                      ext, states, seen, budget), False)
    expect("bulk_extract URL not fetched",
           check_bulk(trace, ext, {**states, "FAILED": 1,
                                   "FETCHED": states["FETCHED"] - 1},
                      seen, budget), False)
    expect("bulk_extract seen count off by one",
           check_bulk(trace, ext, states, seen + 1, budget), False)
    expect("bulk_extract doubled frontier row",
           check_bulk(trace, ext, states, seen, budget, dupes=1), False)

    rtrace, rseen, golden, oracle = replay_output()
    gold = golden.copy()
    expect("deep_replay correct output",
           check_replay(rtrace, rseen, gold, oracle, golden), True)
    expect("deep_replay swapped trace row",
           check_replay(swap_rows(rtrace, 3, 4, ["url", "host", "kind"]),
                        rseen, gold, oracle, golden), False)
    expect("deep_replay doubled URL",
           check_replay(doubled(rtrace, 2), rseen, gold, oracle, golden), False)
    expect("deep_replay altered extracted field",
           check_replay(rtrace, rseen, altered(gold, 1, "image_url"), oracle,
                        golden), False)
    expect("deep_replay missing seen URL",
           check_replay(rtrace, rseen - {rtrace.url[0]}, gold, oracle, golden),
           False)
    expect("deep_replay doubled extracted row",
           check_replay(rtrace, rseen, doubled(gold, 0), oracle, golden), False)

    print(f"{sum(results)}/{len(results)} self-test cases as expected")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
