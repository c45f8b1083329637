"""Content-keyed on-disk index materialization, shared by every
build/probe split (ivf postings+centroids, BPE merges+types).

One implementation of the build-once/reuse contract so a fix to the
rename-race or manifest semantics propagates to every index family
(review-found: ivf.py and bpe_index.py carried verbatim copies):

- the index lives at ``<base>/<content key>`` and is valid iff its
  ``_MANIFEST.json`` exists (the manifest is written to scratch LAST,
  and the scratch directory becomes visible only via atomic rename, so
  a half-written index is never observable under the final path);
- a reusable index is a pure stat call;
- concurrent builders race to the rename; losers discard their scratch
  (same content key ⇒ equivalent index, so losing is not an error
  unless no winner exists either).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable


def materialize_index(
    base: str,
    key: str,
    write_scratch: Callable[[str], None],
    manifest: dict,
) -> str:
    """Ensure ``<base>/<key>`` exists (building via ``write_scratch``
    into a private scratch dir if not) and return it."""
    final = os.path.join(base, key)
    manifest_path = os.path.join(final, "_MANIFEST.json")
    if os.path.exists(manifest_path):
        return final

    os.makedirs(base, exist_ok=True)
    scratch = f"{final}.building-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    write_scratch(scratch)
    with open(os.path.join(scratch, "_MANIFEST.json"), "w") as fh:
        json.dump(manifest, fh)
    try:
        os.rename(scratch, final)
    except OSError:
        # a concurrent builder won the rename; its index is equivalent
        # (same content key) — discard ours
        shutil.rmtree(scratch, ignore_errors=True)
        if not os.path.exists(manifest_path):
            raise
    return final
