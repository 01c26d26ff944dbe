"""Seeded inputs of the crawl benchmark, and their expected outputs.

Two synthetic inputs are built JVM-side so that their cost does not
land on the driver:

- a host-skewed *detail frontier* of build ids ``d``: host 0 holds every
  eighth id (12.5% of URLs), the rest spread over ``N_HOSTS - 1`` hosts
  by ``d % N_HOSTS``; hosts with ``hid % 20 == 1`` (about 5%) deny
  everything in robots.txt;
- an emulated HTTP fetch (``synth_fetch``): the page body of each
  dequeued URL is synthesised from its id at fetch time, so fetch cost
  grows with the URLs actually dequeued. Detail pages have about 145 DOM
  nodes (tags, an image srcset, download anchors, 45 comments).

The expected extraction of every id is recomputed here in plain Python
from the template's rules (``expected_detail``), never by parsing.
The ids of a run start at ``id_base(seed)``, a multiple of 3, 4, 8, 12
and ``N_HOSTS``, so each seed gives new URLs (new hashes, buckets and
Bloom bits) over the same host assignment and download-link mix.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

N_HOSTS = 1024
TAGS = ["Fantasy", "Medieval", "Modern", "Castle", "House"]
N_COMMENTS = 45
_FILLER = ("lorem ipsum crawl frontier benchmark filler text " * 20).strip() * 2
_HOST_FMT = "h{}.planetminecraft.com"


def id_base(seed: int) -> int:
    """First build id of a run: 3 * 2**20 is divisible by 3, 4, 8, 12
    and ``N_HOSTS``, so every seed sees the same host and link mix."""
    return (seed % 1000) * 3 * 2**20


# ---- JVM-side generators ----------------------------------------------------

def host_id_col(d: Column) -> Column:
    return F.when(d % 8 == 0, F.lit(0)).otherwise(F.pmod(d, F.lit(N_HOSTS)))


def detail_url_col(d: Column) -> Column:
    return F.concat(
        F.lit("https://h"), host_id_col(d).cast("string"),
        F.lit(".planetminecraft.com/project/b"), d.cast("string"), F.lit("/"),
    )


def _detail_html(d: Column) -> Column:
    ds = d.cast("string")
    tag_arr = F.array(*[F.lit(t) for t in TAGS])
    tag1 = F.element_at(tag_arr, (d % 5).cast("int") + 1)
    tag2 = F.element_at(tag_arr, (d % 3).cast("int") + 1)
    img = F.concat(
        F.lit('<picture class="lg-img-wrap"><source srcset='
              '"https://cdn.planetminecraft.com/img/b'),
        ds, F.lit('_l.jpg"></picture>'),
    )
    branded = F.concat(
        F.lit('<a class="branded-download" href="/project/b'), ds,
        F.lit('/download/">dl</a>'),
    )
    mirror_tp = F.concat(
        F.lit('<a class="branded-download" href="/project/b'), ds,
        F.lit('/mirror/">dl</a>'),
        F.lit('<a class="third-party-download" title="Get it '
              'https://www.mediafire.com/file/b'),
        ds, F.lit('">ext</a>'),
    )
    # one higher-order transform, not N_COMMENTS inlined children: the
    # expression tree stays small, so planning cost does not grow with it
    comments = F.array_join(F.transform(
        F.sequence(F.lit(0), F.lit(N_COMMENTS - 1)),
        lambda i: F.concat(
            F.lit('<div class="comment"><span class="author">user'),
            ((d * 7 + i) % 99991).cast("string"),
            F.lit("</span><p>nice build, lorem ipsum dolor sit amet comment "),
            i.cast("string"), F.lit(" </p></div>"),
        ),
    ), "")
    return F.concat(
        F.lit("<html><body><h1>Build</h1><p>"), F.lit(_FILLER), F.lit("</p>"),
        F.lit('<span class="tag"><a>'), tag1, F.lit("</a></span>"),
        F.lit('<span class="tag"><a>'), tag2, F.lit("</a></span>"),
        F.when(d % 4 == 0, F.lit("")).otherwise(img),
        F.when(d % 3 == 0, branded).when(d % 12 == 1, mirror_tp)
        .otherwise(F.lit("")),
        comments,
        F.lit("<p>"), F.lit(_FILLER), F.lit("</p></body></html>"),
    )


def _nav_block(d: Column, tag: str) -> Column:
    return F.array_join(F.transform(
        F.sequence(F.lit(0), F.lit(9)),
        lambda i: F.concat(
            F.lit(f'<div class="nav-item"><a href="/{tag}/'),
            ((d + i) % 977).cast("string"),
            F.lit(f'"><span>{tag} link '), i.cast("string"),
            F.lit("</span></a></div>"),
        ),
    ), "")


def _download_html(d: Column) -> Column:
    return F.concat(
        F.lit("<html><body>"), _nav_block(d, "cat"),
        F.lit('<script>var s = { schematic: "https://s3.amazonaws.com/'
              'static.planetminecraft.com/files/b'),
        d.cast("string"), F.lit('.zip?sig=1", };</script></body></html>'),
    )


def _mediafire_html(d: Column) -> Column:
    return F.concat(
        F.lit("<html><body>"), _nav_block(d, "file"),
        F.lit('<a id="downloadButton" href="https://download1472.mediafire.com/dl/b'),
        d.cast("string"), F.lit('.zip">Download</a></body></html>'),
    )


def page_html_col(url: Column) -> Column:
    """Body of any URL of the template, as the fetch emulator serves it."""
    d = F.regexp_extract(url, r"/b(\d+)", 1).cast("long")
    return F.encode(
        F.when(url.contains("/download/"), _download_html(d))
        .when(url.contains("mediafire.com"), _mediafire_html(d))
        .otherwise(_detail_html(d)),
        "UTF-8",
    )


def synth_fetch(dequeued: DataFrame) -> DataFrame:
    """``CrawlEngine`` fetch override: adds the ``html`` of each URL."""
    return dequeued.withColumn("html", page_html_col(F.col("url")))


def detail_frontier(spark: SparkSession, base: int, n: int, n_buckets: int,
                    n_parts: int) -> DataFrame:
    """``n`` QUEUED detail rows with ids ``base .. base+n-1`` in
    FRONTIER_SCHEMA, discovered in id order."""
    i = F.col("id")
    d = F.lit(base) + i
    url = detail_url_col(d)
    return spark.range(0, n, 1, n_parts).select(
        url.alias("url"),
        F.concat(F.lit("h"), host_id_col(d).cast("string"),
                 F.lit(".planetminecraft.com")).alias("host"),
        F.xxhash64(url).alias("url_hash"),
        F.pmod(F.xxhash64(url), F.lit(n_buckets)).cast("int").alias("bucket"),
        F.lit("detail").alias("kind"),
        F.lit(0).alias("depth"),
        F.lit(1.0).alias("score"),
        F.lit("QUEUED").alias("state"),
        i.alias("discovered_seq"),
        F.lit(0).alias("round"),
        F.lit(None).cast("string").alias("parent_url"),
    )


def robots(spark: SparkSession) -> DataFrame:
    """One rule row per host; hosts with ``hid % 20 == 1`` deny ``/``."""
    hid = F.col("id")
    return spark.range(N_HOSTS).select(
        F.concat(F.lit("h"), hid.cast("string"),
                 F.lit(".planetminecraft.com")).alias("host"),
        F.when(hid % 20 == 1, F.array(F.lit("/")))
        .otherwise(F.array().cast("array<string>")).alias("disallow_prefixes"),
    )


# ---- Python-side expectations ----------------------------------------------

def host_id(d: int) -> int:
    return 0 if d % 8 == 0 else d % N_HOSTS


def host_of(d: int) -> str:
    return _HOST_FMT.format(host_id(d))


def host_denied(hid: int) -> bool:
    return hid % 20 == 1


def host_name_denied(host: str) -> bool:
    """``host_denied`` for a host name ``h<hid>.planetminecraft.com``."""
    hid = host.split(".", 1)[0][1:]
    return host.endswith(".planetminecraft.com") and hid.isdigit() \
        and host_denied(int(hid))


def detail_url(d: int) -> str:
    return f"https://{host_of(d)}/project/b{d}/"


def download_url_of(d: int) -> str:
    """download_url the extractor must find on detail page ``d``."""
    if d % 3 == 0:
        return f"https://{host_of(d)}/project/b{d}/download/"
    if d % 12 == 1:  # mirror branded button is skipped; mediafire wins
        return f"https://www.mediafire.com/file/b{d}"
    return ""


def raw_link_of(d: int) -> str:
    """raw_download_link once the download page of ``d`` is fetched."""
    if d % 3 == 0:
        return f"https://static.planetminecraft.com/files/b{d}.zip"
    if d % 12 == 1:
        return f"https://download1472.mediafire.com/dl/b{d}.zip"
    return ""


def expected_detail(d: int) -> dict:
    """Fields of detail page ``d`` (raw link excluded: it depends on
    whether the crawl has fetched the download page yet)."""
    return {
        "download_url": download_url_of(d),
        "image_url": "" if d % 4 == 0
        else f"https://cdn.planetminecraft.com/img/b{d}_l.jpg",
        "tags": str([TAGS[d % 5], TAGS[d % 3]]),
    }
