"""Record payloads, all implied by the run's seed.

A payload is ASCII text of about 100 bytes (the log stores values as
strings), of one length whatever the seed. Preloaded records carry
their offset, so the payload at any offset is known without keeping 2M
strings around; records written during a run carry their writer stream
and sequence number.
"""

from __future__ import annotations

import numpy as np

_ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8)
_BLOCKS = 1024


def _blocks(seed: int, width: int) -> list[str]:
    rng = np.random.default_rng([int(seed), width])
    idx = rng.integers(0, len(_ALPHABET), (_BLOCKS, width))
    return [bytes(row).decode() for row in _ALPHABET[idx]]


class Payloads:
    """Seeded payload source for one run."""

    def __init__(self, seed: int) -> None:
        self.seed = int(seed)
        self._pre = _blocks(seed, 86)
        self._new = _blocks(seed, 64)

    def at(self, offset: int) -> str:
        """The preloaded payload at ``offset``."""
        return f"{offset:012d}:{self._pre[offset % _BLOCKS]}"

    def fresh(self, stream: int, seq: int) -> str:
        """A payload written during the run: writer stream and sequence
        number, then seeded filler."""
        return f"{stream}|{seq:08d}|{self._new[(seq * 7 + stream) % _BLOCKS]}"


def preload_values(seed: int, lo: int, hi: int) -> list[str]:
    """Payloads for offsets ``lo..hi-1`` of a preloaded log."""
    p = Payloads(seed)
    return [p.at(o) for o in range(lo, hi)]
