"""Correctness checks of the crawl benchmark.

Every check takes plain Python / pandas data (collected from the
engine's public accessors) and the benchmark's own expectation, and
records failures in a :class:`Verdict`. Nothing here starts Spark, so
``selftest.py`` can feed each check a corrupted output directly.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable, Iterable

import pandas as pd

from inputs import expected_detail, raw_link_of

FIELD_SEP = "\x1f"
TRACE_COLS = ["dequeue_seq", "round", "url", "host", "kind"]
EXTRACTED_COLS = [
    "url", "download_url", "image_url", "tags", "raw_download_link",
    "extracted_text",
]
_ID_RE = re.compile(r"/b(\d+)")


@dataclass
class Verdict:
    """Failed checks, and the operations (URLs) each one implicates."""

    problems: list[str] = field(default_factory=list)
    urls: set[str] = field(default_factory=set)
    uncounted: int = 0  # failures known by count only (e.g. unfetched rows)

    def fail(self, problem: str, urls: Iterable[str] = (), count: int = 0) -> None:
        self.problems.append(problem)
        self.urls.update(urls)
        self.uncounted += count

    @property
    def ok(self) -> bool:
        return not self.problems

    @property
    def failed(self) -> int:
        return len(self.urls) + self.uncounted


def _head(items: Iterable[str], n: int = 3) -> str:
    items = list(items)
    more = f" (+{len(items) - n} more)" if len(items) > n else ""
    return ", ".join(map(str, items[:n])) + more


def check_crawl_properties(
    v: Verdict,
    trace: pd.DataFrame,
    state_counts: dict[str, int],
    frontier_dupes: int,
    seen_rows: int,
    budget: int,
    host_denied: Callable[[str], bool],
) -> None:
    """Properties any correct crawl has, whatever its input:

    - no URL is dequeued twice, and ``dequeue_seq`` is 0..n-1;
    - per (host, round), at most ``budget`` URLs are dequeued;
    - no URL of a robots-denied host is dequeued;
    - every dequeued URL was fetched (none left FAILED);
    - the frontier holds one row per URL, and
      dequeued + queued + denied = |seen|.
    """
    dup = trace[trace.duplicated("url", keep="first")]
    if len(dup):
        v.fail(f"dequeued twice: {_head(dup.url)}", dup.url)
    seqs = sorted(trace.dequeue_seq)
    if seqs != list(range(len(trace))):
        v.fail("dequeue_seq is not 0..n-1", count=1)
    per = trace.groupby(["host", "round"]).size()
    over = per[per > budget]
    if len(over):
        bad = trace.set_index(["host", "round"]).loc[over.index, "url"]
        v.fail(f"politeness budget {budget} exceeded for (host, round) "
               f"{_head(map(str, over.index))}", bad)
    denied = trace[trace.host.map(host_denied)]
    if len(denied):
        v.fail(f"robots-denied host dequeued: {_head(denied.url)}", denied.url)
    n_failed = state_counts.get("FAILED", 0)
    if n_failed:
        v.fail(f"{n_failed} dequeued URLs not fetched", count=n_failed)
    if frontier_dupes:
        v.fail(f"{frontier_dupes} URLs have more than one frontier row",
               count=frontier_dupes)
    done = state_counts.get("FETCHED", 0) + n_failed
    if done != len(trace):
        v.fail(f"fetched+failed rows {done} != dequeued {len(trace)}",
               count=abs(done - len(trace)))
    total = (len(trace) + state_counts.get("QUEUED", 0)
             + state_counts.get("ROBOTS_DENIED", 0))
    if total != seen_rows:
        v.fail(f"dequeued+queued+denied {total} != |seen| {seen_rows}",
               count=abs(total - seen_rows))


def check_detail_fields(v: Verdict, trace: pd.DataFrame,
                        extracted: pd.DataFrame) -> None:
    """Synthetic-template workloads: every dequeued detail URL has one
    extracted row whose fields equal the template's rules for its id;
    the raw link is set iff the crawl has fetched its download page."""
    fetched = set(trace.url)
    details = list(trace[trace.kind == "detail"].url)
    dup = extracted[extracted.duplicated("url", keep=False)].url
    if len(dup):
        v.fail(f"extracted rows repeated: {_head(dup.unique())}", dup)
    extra = set(extracted.url) - set(details)
    if extra:
        v.fail(f"extracted rows for URLs never dequeued as detail: "
               f"{_head(sorted(extra))}", extra)
    cols = EXTRACTED_COLS[1:]
    got = {r[0]: tuple(r[1:]) for r in
           extracted[["url", *cols]].itertuples(index=False, name=None)}
    bad = []
    for url in details:
        d = int(_ID_RE.search(url).group(1))
        want = expected_detail(d)
        raw = raw_link_of(d) if want["download_url"] in fetched else ""
        fields = (want["download_url"], want["image_url"], want["tags"], raw)
        if got.get(url) != (*fields, FIELD_SEP.join(fields)):
            bad.append(url)
    if bad:
        v.fail(f"extracted fields differ from the template for "
               f"{_head(bad)}", bad)


def check_trace_equals(v: Verdict, trace: pd.DataFrame,
                       want: pd.DataFrame, what: str) -> None:
    """Row-for-row equality of two dequeue traces, in dequeue order."""
    got = trace.sort_values("dequeue_seq")[TRACE_COLS].reset_index(drop=True)
    want = want.sort_values("dequeue_seq")[TRACE_COLS].reset_index(drop=True)
    if len(got) != len(want):
        odd = set(got.url) ^ set(want.url)
        v.fail(f"{what}: {len(got)} rows, expected {len(want)}", odd,
               count=0 if odd else 1)
        return
    diff = (got.astype(str) != want.astype(str)).any(axis=1)
    if diff.any():
        urls = set(got.url[diff]) | set(want.url[diff])
        first = int(diff.idxmax())
        v.fail(f"{what}: differs from row {first} "
               f"({got.url[first]} vs {want.url[first]})", urls)


def check_set_equals(v: Verdict, got: set[str], want: set[str],
                     what: str) -> None:
    if got != want:
        v.fail(f"{what}: {len(got - want)} unexpected, {len(want - got)} "
               f"missing", got ^ want)


def check_extracted_golden(v: Verdict, extracted: pd.DataFrame,
                           golden: pd.DataFrame) -> None:
    """Byte-for-byte equality with the generator's golden table."""
    got = extracted[EXTRACTED_COLS].sort_values("url").reset_index(drop=True)
    want = golden[EXTRACTED_COLS].sort_values("url").reset_index(drop=True)
    if list(got.url) != list(want.url):
        odd = (set(got.url) ^ set(want.url)) or set(got.url[got.url.duplicated()])
        v.fail(f"extracted URLs differ from golden: {len(got)} rows, "
               f"expected {len(want)}", odd, count=0 if odd else 1)
        return
    diff = (got.astype(str) != want.astype(str)).any(axis=1)
    if diff.any():
        v.fail(f"extracted differs from golden for {_head(got.url[diff])}",
               got.url[diff])
