"""Output verification against the generator's manifest.

Runs outside every timed window. Every request line offered to the
collector is one attempted operation; it fails when the sink shows its
event missing, duplicated, unexpected or with the wrong corrupt flag.
"""

from __future__ import annotations

import glob
import os
from collections import Counter


def expected_events(chunks: list[dict]) -> tuple[dict, int]:
    """(key -> corrupt flag of every event that must be published,
    number of request lines offered) over the published chunks."""
    kept: dict[tuple, bool] = {}
    offered = 0
    for ch in chunks:
        offered += ch["requests"]
        for party, session, event_id, keep, corrupt in ch["events"]:
            if keep:
                kept[(party, session, event_id)] = bool(corrupt)
    return kept, offered


def compare(kept: dict[tuple, bool], observed: list[tuple]) -> dict[str, int]:
    """Failure counts of ``observed`` (party, session, event id,
    corrupt) rows against the expected ``kept`` map."""
    seen = Counter((p, s, e) for p, s, e, _ in observed)
    flags: dict[tuple, bool] = {}
    misflagged = 0
    for p, s, e, corrupt in observed:
        key = (p, s, e)
        if key in kept and key not in flags:
            flags[key] = corrupt
            misflagged += bool(corrupt) != kept[key]
    return {
        "missing": sum(1 for k in kept if k not in seen),
        "duplicated": sum(n - 1 for k, n in seen.items() if k in kept and n > 1),
        "unexpected": sum(n for k, n in seen.items() if k not in kept),
        "misflagged": misflagged,
    }


def read_avro_sink(sink_dir: str, schema: dict) -> tuple[list[tuple], int]:
    """Every record of every published container under ``sink_dir``
    as (party, session, event id, corrupt); also the number of records
    in files whose schema fingerprint differs from ``schema``'s (those
    records count as failures)."""
    from divolte_collector_spark.functions.avro_codec import (
        read_container,
        schema_fingerprint_sha256,
    )

    want = schema_fingerprint_sha256(schema)
    rows, wrong_schema = [], 0
    for path in sorted(glob.glob(os.path.join(sink_dir, "*.avro"))):
        with open(path, "rb") as fh:
            file_schema, records = read_container(fh.read())
        if schema_fingerprint_sha256(file_schema) != want:
            wrong_schema += len(records)
            continue
        rows.extend(
            (r["party_id"], r["session_id"], r["event_id"], r["corrupt"]) for r in records
        )
    return rows, wrong_schema


def verify(chunks: list[dict], observed: list[tuple], extra_failures: int = 0) -> dict:
    """Verification summary: attempted, failed and the failure kinds."""
    kept, offered = expected_events(chunks)
    kinds = compare(kept, observed)
    kinds["wrong_schema"] = extra_failures
    return {"attempted": offered, "failed": sum(kinds.values()), "kinds": kinds}
