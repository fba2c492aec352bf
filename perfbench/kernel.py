"""The convert kernel (`core`) timed layer by layer, in-process on one core,
over a fixed seeded sample of the workload's Confluence rows.

The layers are called in the order `core.convert.convert_document` calls
them, so each figure is that layer's own cost per document.
"""

from __future__ import annotations

import statistics
import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from confluence2md_spark.core.convert import convert_document, extract_user_mentions
from confluence2md_spark.core.detect import is_confluence_mime
from confluence2md_spark.core.html2md import extract_title, html_to_markdown
from confluence2md_spark.core.mimeparse import split_mime
from confluence2md_spark.core.postmd import post_process_markdown
from confluence2md_spark.core.prehtml import pre_process_html
from confluence2md_spark.operators.convert import _convert_batches

STATUSES = ("ok", "not_multipart", "no_html_part")


def sample(raw_dir: str, seed: int, n: int) -> pd.DataFrame:
    """`n` Confluence rows of the stored input, picked by `seed`, in doc_id
    order."""
    t = ds.dataset(raw_dir).to_table(columns=["doc_id", "repo", "path", "commit", "lang", "content"]).to_pandas()
    conf = t[t["lang"] == "confluence"].sort_values("doc_id").reset_index(drop=True)
    pick = np.sort(np.random.default_rng(seed).choice(len(conf), size=min(n, len(conf)), replace=False))
    return conf.iloc[pick].reset_index(drop=True)


def _layers(content: str, clock, acc: dict) -> None:
    def timed(name, fn, *a):
        t = clock()
        out = fn(*a)
        acc[name] += clock() - t
        return out

    timed("detect", is_confluence_mime, content)
    status, parts = timed("mimeparse", split_mime, content)
    if status != "ok":
        return
    html = next((p.body.decode(p.charset or "utf-8", errors="replace") for p in parts if p.media_type == "text/html"), "")
    if not html:
        return
    timed("userlinks", extract_user_mentions, html)
    pre = timed("prehtml", pre_process_html, html)
    md = timed("html2md", html_to_markdown, pre)
    timed("postmd", post_process_markdown, md)
    timed("title", extract_title, html)


def measure(rows: pd.DataFrame, repeats: int = 3) -> dict:
    """Per-document microseconds for each kernel layer (median over
    `repeats` passes), for `convert_document` as a whole and for
    `_convert_batches` (which adds building the pandas output), plus the
    status histogram of the sample."""
    clock = time.perf_counter
    n = len(rows)
    contents = rows["content"].tolist()
    passes = []
    for _ in range(repeats):
        acc: dict = Counter()
        for c in contents:
            _layers(c, clock, acc)
        t = clock()
        statuses = Counter(convert_document(c).status for c in contents)
        acc["convert_document"] = clock() - t
        batch = rows[["doc_id", "repo", "path", "commit", "content"]]
        t = clock()
        for _ in _convert_batches(iter([batch])):
            pass
        acc["batch"] = clock() - t
        passes.append(acc)
    out = {
        f"core.{k}_us": statistics.median(p[k] for p in passes) / n * 1e6
        for k in ("detect", "mimeparse", "userlinks", "prehtml", "html2md", "postmd", "title", "convert_document")
    }
    out["convert.batch_us"] = statistics.median(p["batch"] for p in passes) / n * 1e6
    for s in STATUSES:
        out[f"core.status.{s}"] = statuses.get(s, 0)
    out["core.status.other"] = n - sum(statuses.get(s, 0) for s in STATUSES)
    return out


def expected_statuses(doc_ids) -> dict:
    """The corpus's closed-form status classes (`sources/corpus.py`)."""
    ids = np.asarray(doc_ids) % 97
    nm, nh = int((ids == 95).sum()), int((ids == 96).sum())
    return {"ok": len(ids) - nm - nh, "not_multipart": nm, "no_html_part": nh}
