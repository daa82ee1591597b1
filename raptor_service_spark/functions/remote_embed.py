"""Non-hermetic C7 adapter skeleton: a batched, retry-bounded HTTP embedding
client behind the ``TreeParams.embed_fn`` hook (VERDICT r4 item 4).

Reference analog: the Voyage client's batching / rate-limit / retry loop
(/root/reference/services/providers/voyage/voyage_client.py:222-355) and the
embedding-dimension config (services/embedding/embedder.py).  The engine's
oracles keep the hermetic default (functions/vector.py `hash_embed_udf`);
this module is what a production deployment swaps in when a real embedding
service exists.

Design — executor-side, Arrow-batched, never per-row:

* ``remote_embed_fn(endpoint, ...)`` returns a column function
  (``Column -> Column`` of ``array<float>``) built on ONE pandas UDF: each
  Arrow batch of texts is re-packed into HTTP request batches capped by
  ``batch_size`` items AND ``token_budget`` whitespace tokens (the
  `_budget_slice` discipline applied to request payloads), then POSTed as
  JSON ``{"input": [...], "model": ...}`` — the public embeddings-API shape.
* Transient failures (HTTP 429/5xx, connection errors) retry with bounded
  exponential backoff; after ``max_retries`` the error propagates and Spark's
  task retry takes over — the adapter never silently fabricates vectors.
* Keyless-mockable: ``api_key=None`` sends no Authorization header, so a
  local stub server (tests/test_remote_embed.py) can stand in for the
  provider; with a key it sends the standard Bearer header.

Scale note: requests run inside executor tasks, so aggregate concurrency =
active tasks; cap it by running the embed stage on a dedicated repartition
(the same knob the hermetic path uses) rather than driver-side throttling —
B2-B4 remain n/a for the hermetic engine itself (SURVEY §2.11).
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType


def _token_count(text: str) -> int:
    return max(len(text.split()), 1)


def pack_batches(
    counts: list[int], batch_size: int, token_budget: int | None
) -> list[list[int]]:
    """Greedy prefix packing of item indices into request batches: each
    batch holds <= batch_size items and (when a budget is set) <=
    token_budget tokens — except a single oversized item still ships alone
    (the `_budget_slice` >=1 rule in operators/tree.py)."""
    batches: list[list[int]] = []
    cur: list[int] = []
    cur_tok = 0
    for i, t in enumerate(counts):
        over_items = len(cur) >= batch_size
        over_tok = token_budget is not None and cur and cur_tok + t > token_budget
        if over_items or over_tok:
            batches.append(cur)
            cur, cur_tok = [], 0
        cur.append(i)
        cur_tok += t
    if cur:
        batches.append(cur)
    return batches


def _post_json(
    endpoint: str,
    payload: dict,
    api_key: str | None,
    timeout: float,
    max_retries: int,
    backoff_s: float,
) -> dict:
    body = json.dumps(payload).encode()
    headers = {"Content-Type": "application/json"}
    if api_key:
        headers["Authorization"] = f"Bearer {api_key}"
    last_err: Exception | None = None
    for attempt in range(max_retries + 1):
        try:
            req = urllib.request.Request(endpoint, data=body, headers=headers)
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                return json.loads(resp.read().decode())
        except urllib.error.HTTPError as e:
            last_err = e
            if e.code not in (429, 500, 502, 503, 504):
                raise  # 4xx contract errors never retry
        except (urllib.error.URLError, TimeoutError, ConnectionError) as e:
            last_err = e
        if attempt < max_retries:
            time.sleep(backoff_s * (2**attempt))
    raise RuntimeError(
        f"remote embed failed after {max_retries + 1} attempts: {last_err}"
    )


def remote_embed_fn(
    endpoint: str,
    model: str = "default",
    dim: int = 64,
    batch_size: int = 128,
    token_budget: int | None = None,
    max_retries: int = 3,
    timeout: float = 30.0,
    backoff_s: float = 0.2,
    api_key: str | None = None,
):
    """Column function for ``TreeParams.embed_fn``: text Column ->
    array<float> Column, embedded by the HTTP service at ``endpoint``."""

    @F.pandas_udf(ArrayType(FloatType()))
    def _embed(texts: pd.Series) -> pd.Series:
        vals = ["" if t is None else str(t) for t in texts.tolist()]
        out: list[list[float] | None] = [None] * len(vals)
        for batch in pack_batches(
            [_token_count(t) for t in vals], batch_size, token_budget
        ):
            resp = _post_json(
                endpoint,
                {"input": [vals[i] for i in batch], "model": model},
                api_key,
                timeout,
                max_retries,
                backoff_s,
            )
            data = resp["data"]
            if len(data) != len(batch):
                raise RuntimeError(
                    f"embed response size {len(data)} != batch {len(batch)}"
                )
            for k, i in enumerate(batch):
                vec = data[k]["embedding"]
                if len(vec) != dim:
                    raise RuntimeError(
                        f"embed dim {len(vec)} != configured {dim}"
                    )
                out[i] = [float(x) for x in vec]
        return pd.Series(out)

    return lambda col: _embed(col)


def remote_summarize_fn(
    endpoint: str,
    model: str = "default",
    batch_size: int = 16,
    token_budget: int | None = None,
    max_retries: int = 3,
    timeout: float = 60.0,
    backoff_s: float = 0.2,
    api_key: str | None = None,
    joiner: str = "\n",
):
    """Column function for ``TreeParams.summarize_fn`` — the C6 twin of
    :func:`remote_embed_fn` (reference summarizer.py:79-119 analog).

    The hook receives the ORDERED array of child texts packed for one
    summary group; each group is joined into a single prompt document, the
    prompts are re-packed into request batches under the same item/token
    caps, and the service returns one summary string per prompt as
    ``{"data": [{"summary": ...}, ...]}``.  Same bounded-retry / no-
    fabrication semantics as the embed adapter."""

    @F.pandas_udf("string")
    def _summ(groups: pd.Series) -> pd.Series:
        prompts = [
            joiner.join(
                "" if t is None else str(t)
                for t in ([] if g is None else g)  # Arrow hands numpy arrays
            )
            for g in groups.tolist()
        ]
        out: list[str | None] = [None] * len(prompts)
        for batch in pack_batches(
            [_token_count(p) for p in prompts], batch_size, token_budget
        ):
            resp = _post_json(
                endpoint,
                {"input": [prompts[i] for i in batch], "model": model,
                 "task": "summarize"},
                api_key,
                timeout,
                max_retries,
                backoff_s,
            )
            data = resp["data"]
            if len(data) != len(batch):
                raise RuntimeError(
                    f"summarize response size {len(data)} != batch {len(batch)}"
                )
            for k, i in enumerate(batch):
                out[i] = str(data[k]["summary"])
        return pd.Series(out)

    return lambda texts_col: _summ(texts_col)
