"""The parameter record a maintained index keeps at ``<root>/index_meta.json``.

``MaintainedMinHashIndex`` and ``MaintainedBM25Index`` both derive their
stored rows from build parameters that must never change under an
existing index (hash and band counts, bucket counts), and both pin the
doc-id type of their first committed batch, from which the serving read
schema is derived. Like the ``ManifestTable``s beside it, the record
lives on a local POSIX path.
"""

from __future__ import annotations

import json
import os

from ..catalog import write_json_atomic

META_NAME = "index_meta.json"


def _read(root: str) -> dict:
    with open(os.path.join(root, META_NAME)) as fh:
        return json.load(fh)


def open_index_meta(root: str, params: dict) -> None:
    """Create the record holding ``params``, or refuse an existing one
    built with different values — its stored rows would disagree."""
    try:
        stored = _read(root)
    except FileNotFoundError:
        os.makedirs(root, exist_ok=True)
        write_json_atomic(os.path.join(root, META_NAME), params)
        return
    mismatch = {k: (stored.get(k), v) for k, v in params.items() if stored.get(k) != v}
    if mismatch:
        raise ValueError(
            f"index at {root} was built with different parameters: {mismatch} "
            "— its stored rows would disagree"
        )


def pin_doc_id_type(root: str, id_type: str, write: bool = True) -> None:
    """Refuse a batch whose doc-id type differs from the pinned one; pin
    ``id_type`` when none is pinned yet and ``write`` is set (a probe
    that commits nothing must not pin a type on an empty index)."""
    meta = _read(root)
    pinned = meta.get("doc_id_type")
    if pinned is None:
        if write:
            write_json_atomic(os.path.join(root, META_NAME), {**meta, "doc_id_type": id_type})
    elif pinned != id_type:
        raise ValueError(
            f"index at {root} was built with doc_id_type={pinned!r}, "
            f"but this batch's doc_id type is {id_type!r}"
        )


def doc_id_type(root: str) -> str:
    """The pinned doc-id type; ``bigint`` before the first ingest."""
    return _read(root).get("doc_id_type", "bigint")
