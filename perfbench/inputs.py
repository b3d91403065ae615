"""Seeded inputs: the corpus and the churn batches.

The same (size, seed, HTML share) always yields the same inputs. The corpus
is cached as parquet under the benchmark's cache directory, so repeated
runs of one seed spend set-up time in the engine, not in the generator.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from share_spark.corpus import HEAD_TERMS, make_web_pages, make_web_pages_fast

PAGES_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

# make_queries draws its head bucket from the 20 most frequent vocabulary
# words; a query holding one of them (or a planted head term) scans long
# posting lists
HEAD_WORDS = frozenset(HEAD_TERMS) | {f"w{i:05d}" for i in range(20)}


def make_pages(n: int, seed: int, html_share: float) -> pd.DataFrame:
    """Text-only pages, with a seeded `html_share` of them replaced by pages
    in the `make_web_pages` shape (HTML markup, non-English languages), so
    the extractor's per-row HTML path does work next to its ASCII path."""
    pages = make_web_pages_fast(n, seed=seed)
    n_html = int(n * html_share)
    if n_html:
        rows = np.sort(
            np.random.default_rng(seed).choice(n, size=n_html, replace=False)
        )
        marked = make_web_pages(n_html, seed=seed)
        pages["html"] = pages["html"].astype(object)
        for col in ("html", "text", "lang"):
            pages.loc[rows, col] = marked[col].to_numpy()
    return pages


def to_arrow(pages: pd.DataFrame) -> pa.Table:
    return pa.Table.from_pandas(pages, schema=PAGES_SCHEMA, preserve_index=False)


def input_bytes(tbl: pa.Table) -> int:
    """Bytes the extractor reads: the HTML where a page has it, else the
    text."""
    html = pc.binary_length(tbl.column("html"))
    text = pc.binary_length(tbl.column("text"))
    return int(pc.sum(pc.coalesce(html, text)).as_py())


def cached_pages(cache_dir: str, n: int, seed: int, html_share: float) -> str:
    """Path of the corpus parquet file, generating it on a cache miss."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"pages-n{n}-s{seed}-h{html_share:g}.parquet")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        pq.write_table(to_arrow(make_pages(n, seed, html_share)), tmp)
        os.replace(tmp, path)
    return path


def is_head(query_text: str) -> bool:
    return any(t.strip('"-') in HEAD_WORDS for t in query_text.split())


def churn_batch(
    pages: pd.DataFrame,
    seed: int,
    first_new_id: int,
    n_new: int,
    n_dup: int,
    n_upd: int,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(offered, updated): the churn micro-batch.

    offered: `n_new` unseen pages plus `n_dup` exact re-crawls of corpus
    pages, shuffled; the seen store should drop the re-crawls.
    updated: `n_upd` corpus pages whose text changed, under their old
    doc_id and url; they replace the old copies in the index."""
    rng = np.random.default_rng([seed, 1])
    new = make_web_pages_fast(n_new, seed=seed * 1009 + 1)
    new["doc_id"] = np.arange(first_new_id, first_new_id + n_new, dtype=np.int64)
    new["url"] = [f"https://site{i % 97}.example/page/{i}" for i in new["doc_id"]]
    dup = pages.iloc[rng.choice(len(pages), size=n_dup, replace=False)]
    offered = pd.concat([new, dup], ignore_index=True)
    offered = offered.iloc[rng.permutation(len(offered))].reset_index(drop=True)

    upd = pages.iloc[rng.choice(len(pages), size=n_upd, replace=False)].copy()
    fresh = make_web_pages_fast(n_upd, seed=seed * 1009 + 2)
    upd["text"] = fresh["text"].to_numpy()
    upd["html"] = None
    upd["warc_ts"] = upd["warc_ts"] + pd.Timedelta(days=1)
    return offered, upd.reset_index(drop=True)
