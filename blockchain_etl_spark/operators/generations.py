"""Atomic-rebuild directory layout shared by the persisted vector indexes
(operators/ann_index.py, operators/ivfpq_index.py) — and any future
multi-store artifact that is rebuilt wholesale.

A rebuild writes EVERY store of the index (centroids, codebooks, data,
inventories, ...) into a fresh ``gen=<n>/`` directory and publishes it
with one atomic pointer flip; readers resolve the current generation on
every access. A crash anywhere mid-rebuild leaves the previous
generation fully intact and serving — never a half-overwritten hybrid
(new centroids with old codes, wiped data with a dangling inventory).
Generation 0 is the legacy flat layout (stores directly under ``path``),
so pre-generation indexes keep working unchanged.

On object stores the ``os.replace`` pointer flip is the one primitive to
swap for a conditional put — the same single-commit-point contract as
operators/merge.py and operators/ivm.py.
"""

from __future__ import annotations

import json
import os

from ..functions import arrowio


class GenerationalLayout:
    """Mixin: requires a ``self.path`` root attribute."""

    path: str

    @property
    def _gen_pointer(self) -> str:
        return os.path.join(self.path, "_gen.json")

    def _gen(self) -> int:
        try:
            with open(self._gen_pointer) as f:
                return int(json.load(f)["gen"])
        except (OSError, ValueError, KeyError, TypeError):
            return 0

    def _gen_dir(self, gen: int) -> str:
        return self.path if gen == 0 else os.path.join(self.path, f"gen={gen}")

    def _store(self, name: str) -> str:
        """Path of a store in the CURRENT generation."""
        return os.path.join(self._gen_dir(self._gen()), name)

    def _publish_gen(self, gen: int) -> None:
        # the rebuild's single commit point
        arrowio.publish_json(self._gen_pointer, {"gen": gen})

    def _retire_gen(self, gen: int, legacy_stores: "tuple[str, ...]") -> None:
        """Best-effort reclaim of a superseded generation: readers in
        flight on the old snapshot finish; a crashed cleanup only leaks
        disk, never correctness. ``legacy_stores`` names the flat-layout
        subdirs to remove when retiring generation 0 (the root dir itself
        holds the pointer and newer generations)."""
        import shutil

        if gen == 0:
            for sub in legacy_stores:
                shutil.rmtree(os.path.join(self.path, sub), ignore_errors=True)
        else:
            shutil.rmtree(self._gen_dir(gen), ignore_errors=True)
