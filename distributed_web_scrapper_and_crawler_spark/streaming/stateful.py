"""Custom stateful streaming operators (applyInPandasWithState).

The batch engine's seen-set is an anti-join against an Iceberg-style
keys table (plans/round.py). In a pure Structured
Streaming deployment the same invariant — "each URL is admitted at most
once, forever" — becomes per-key state inside the stream:
``dedup_url_stream`` keeps a per-HOST set of admitted url_hashes in
GroupState and emits only first occurrences, across micro-batches.

Keying by host (not by url) keeps the state-store key count equal to
the host count, with each host's hash set stored as one packed int64
binary blob — the same partitioned-by-host layout the batch engine's
politeness scheduler uses, so hot-host skew lands on the shuffle the
same way. A per-url key would also work but stores one state row per
URL (state-store bloat at 10^10) — this layout is the deliberate
scale choice, with the blob bounded by ``max_hashes_per_host``.

The batch round loop remains the primary engine (SURVEY.md §2.10:
reproducible ordering needs rounds); this module is the streaming
surface a Structured-Streaming-native user would reach for.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEDUP_OUT_SCHEMA = "host string, url string, url_hash long"
DEDUP_STATE_SCHEMA = "hashes binary"


def dedup_url_stream(
    urls: DataFrame,
    max_hashes_per_host: int = 1_000_000,
) -> DataFrame:
    """Streaming exactly-once URL admission: groupBy(host) +
    applyInPandasWithState, state = packed int64 array of admitted
    url_hashes per host.

    Input stream schema must contain (host string, url string,
    url_hash long). Output = the first occurrence of each url_hash per
    host, across all micro-batches. State per host is capped at
    ``max_hashes_per_host`` (overflowing hosts keep admitting — a
    documented fail-open, mirroring the batch engine's rule that a
    degraded filter must never drop URLs silently... but here without a
    ground-truth table the cap is a hard bound, so size it for the
    host's expected URL count).

    **State growth / rewrite cost (size this before deploying).** The
    per-host blob is a sorted int64 array, REWRITTEN in full on every
    micro-batch that touches the host: bytes written per batch ≈
    ``8 × |seen(host)| × hosts_active_in_batch``. At the cap that is
    8 MB per hot host per batch — acceptable on the RocksDB state store
    (changelog checkpointing ships only the updated key), heavy on the
    default HDFS-backed store (full snapshot per checkpoint). Deploys
    that expect hosts near the cap should (a) enable the RocksDB state
    store provider, (b) lower ``max_hashes_per_host`` and rely on the
    batch engine's ground-truth anti-join for the overflow mass, or
    (c) shard hot hosts into sub-keys (host, url_hash % k) upstream —
    the same salting move the batch politeness scheduler uses. A
    delta-encoded blob would cut write amplification but not peak state
    size, which is why the cap (not encoding) is the primary control.
    """

    def admit(key, pdf_iter, state: GroupState):
        if state.exists:
            (blob,) = state.get
            arr = np.frombuffer(blob, dtype=np.int64)  # sorted
        else:
            arr = np.empty(0, dtype=np.int64)
        added: list[np.ndarray] = []
        n_seen = int(arr.size)

        def in_recorded(h: np.ndarray) -> np.ndarray:
            hit = np.zeros(h.size, dtype=bool)
            if arr.size:
                idx = np.searchsorted(arr, h)
                ok = idx < arr.size
                hit[ok] = arr[idx[ok]] == h[ok]
            for a in added:
                hit |= np.isin(h, a)
            return hit

        for pdf in pdf_iter:
            h = pdf["url_hash"].to_numpy(dtype=np.int64)
            known = in_recorded(h)
            first_occ = ~pd.Series(h).duplicated().to_numpy()
            # record the first (cap - seen) distinct new hashes, in
            # first-occurrence order; everything past the cap fails OPEN
            # (admitted but unrecorded, so later duplicates also pass)
            new_u = pd.unique(h[~known])
            capacity = max(0, max_hashes_per_host - n_seen)
            rec = np.asarray(new_u[:capacity], dtype=np.int64)
            if rec.size:
                added.append(rec)
                n_seen += int(rec.size)
            mask = ~known & (first_occ | ~np.isin(h, rec))
            kept = pdf[pd.Series(mask, index=pdf.index)]
            if len(kept):
                yield kept[["host", "url", "url_hash"]]
        if added:
            arr = np.union1d(arr, np.concatenate(added))
        state.update((arr.tobytes(),))

    return urls.groupBy("host").applyInPandasWithState(
        admit,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
