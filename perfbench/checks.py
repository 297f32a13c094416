"""Output checks. Every timed operation's output is read back (untimed,
with pyarrow, so no Spark job is added) and compared with the oracle."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
from urllib.parse import urlsplit

import pandas as pd
import pyarrow.parquet as pq

LABEL_COLS = [
    "url", "extracted_text", "scrubbed_text", "lang_pred", "lang_conf",
    "perplexity", "score", "keep", "drop_rules",
]

# the Java form of textanalysis.BPE_TOKEN_PATTERN: \s is ASCII-only there
_BPE = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", re.ASCII)


class CheckFailed(AssertionError):
    pass


def read_dirs(paths: list[str], columns: list[str] | None = None) -> pd.DataFrame:
    frames = [pq.read_table(p, columns=columns).to_pandas() for p in paths]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(columns=columns)


def label_digest(df: pd.DataFrame) -> str:
    """sha256 over the per-url label records, in url order."""
    recs = [
        [
            r.url,
            hashlib.sha256(r.extracted_text.encode()).hexdigest(),
            hashlib.sha256(r.scrubbed_text.encode()).hexdigest(),
            r.lang_pred,
            repr(float(r.lang_conf)),
            repr(float(r.perplexity)),
            int(r.score),
            bool(r.keep),
            list(r.drop_rules),
        ]
        for r in df.sort_values("url")[LABEL_COLS].itertuples(index=False)
    ]
    return hashlib.sha256(json.dumps(recs).encode()).hexdigest()


def keep_f1(out: pd.DataFrame, golden: pd.DataFrame) -> float:
    m = out[["url", "keep"]].merge(golden[["url", "keep"]], on="url", suffixes=("", "_g"))
    tp = int((m["keep"] & m["keep_g"]).sum())
    fp = int((m["keep"] & ~m["keep_g"]).sum())
    fn = int((~m["keep"] & m["keep_g"]).sum())
    return 2 * tp / (2 * tp + fp + fn) if tp else 0.0


def check_labels(out: pd.DataFrame, golden: pd.DataFrame, golden_digest: str) -> dict:
    """The verdict table must equal the oracle's labels row for row."""
    if out["url"].duplicated().any():
        raise CheckFailed("duplicate urls in output")
    if len(out) != len(golden):
        raise CheckFailed(f"{len(out)} output rows, oracle has {len(golden)}")
    digest = label_digest(out)
    f1 = keep_f1(out, golden)
    if digest != golden_digest:
        raise CheckFailed(f"label digest {digest[:12]} != oracle {golden_digest[:12]} (keep F1 {f1:.4f})")
    return {"digest": digest, "keep_f1": f1}


def check_filter(out_dir: str, golden: pd.DataFrame, golden_digest: str) -> dict:
    return check_labels(read_dirs([out_dir], LABEL_COLS), golden, golden_digest)


def check_resume(run_dir: str, output_root: str, run_id: str, golden: pd.DataFrame,
                 golden_digest: str) -> dict:
    """Resumed output: oracle digest, no duplicate urls, and the metrics
    table's docs_seen sums to the input rows."""
    chunks = sorted(glob.glob(os.path.join(run_dir, "chunk=*")))
    info = check_labels(read_dirs(chunks, LABEL_COLS), golden, golden_digest)
    metrics = glob.glob(os.path.join(output_root, "metrics", f"part-{run_id}-c*.parquet"))
    seen = int(read_dirs(metrics, ["docs_seen"])["docs_seen"].sum())
    if seen != len(golden):
        raise CheckFailed(f"metrics docs_seen {seen} != input rows {len(golden)}")
    info["docs_seen"] = seen
    return info


def bpe_tokens(text: str) -> int:
    return len(_BPE.findall(text))


def check_curate(out: pd.DataFrame, kept_urls: set[str], domain_cap: int,
                 token_budget: int) -> dict:
    """Curated corpus: no duplicate urls, only oracle-kept urls, the
    per-host cap and the token budget hold."""
    if out.empty:
        raise CheckFailed("empty curated corpus")
    if out["url"].duplicated().any():
        raise CheckFailed("duplicate urls in curated corpus")
    stray = set(out["url"]) - kept_urls
    if stray:
        raise CheckFailed(f"{len(stray)} curated urls the oracle drops, e.g. {sorted(stray)[0]}")
    per_host = out["url"].map(lambda u: urlsplit(u).hostname).value_counts()
    if per_host.max() > domain_cap:
        raise CheckFailed(f"host {per_host.idxmax()} has {per_host.max()} > cap {domain_cap}")
    tokens = int(out["text"].map(bpe_tokens).sum())
    if tokens > token_budget:
        raise CheckFailed(f"{tokens} tokens > budget {token_budget}")
    return {"rows": len(out), "tokens": tokens, "max_per_host": int(per_host.max())}


def corpus_digest(out: pd.DataFrame) -> str:
    rows = sorted(zip(out["url"], out["text"]))
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()
