"""Seeded synthetic chain: event logs per block and the listing documents
they point at.

The provider process serves these logs over JSON-RPC and the benchmark
builds the ``ipfs_docs`` table and the exact expected row totals from the
same generator, so both sides agree without talking to each other. Every
block's content depends only on (seed, block number) through one
vectorised draw over the whole span, which makes the chain identical in
both processes.

Knobs (see ``design.json``, which cites where their values come from):

- ``events_per_block``: (min, max) log count per block, uniform;
- ``foreign_share``: share of logs from another contract, which the
  pipeline's address filter must drop;
- ``products``: (min, max) products per listing, uniform (0 → no
  ``products`` array, so the listing yields no dshop row);
- ``doc_chars``: (min, max) length of each listing's description.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

MARKETPLACE_ADDRESS = "0x_origin_marketplace"
FOREIGN_ADDRESS = "0x_other_contract"
COLS = ["block_number", "log_index", "address", "event_name", "listing_id", "ipfs_hash"]

_CATEGORIES = ["electronics", "apparel", "home", "art", "books", "toys"]
_CURRENCIES = ["ETH", "DAI", "USD"]
_FILLER = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor "


@dataclass(frozen=True)
class ChainSpec:
    seed: int
    start_block: int
    n_blocks: int
    events_per_block: tuple[int, int]
    foreign_share: float
    products: tuple[int, int]
    doc_chars: tuple[int, int]

    @classmethod
    def from_json(cls, d: dict) -> "ChainSpec":
        return cls(**{k: tuple(v) if isinstance(v, list) else v for k, v in d.items()})


class Chain:
    """Materialised logs for ``spec.n_blocks`` blocks from ``spec.start_block``."""

    def __init__(self, spec: ChainSpec):
        self.spec = spec
        rng = np.random.default_rng(spec.seed)
        per_block = rng.integers(spec.events_per_block[0], spec.events_per_block[1] + 1, spec.n_blocks)
        n = int(per_block.sum())
        self.block = np.repeat(
            np.arange(spec.start_block, spec.start_block + spec.n_blocks, dtype=np.int64),
            per_block,
        )
        starts = np.repeat(np.cumsum(per_block) - per_block, per_block)
        self.log_index = (np.arange(n) - starts).astype(np.int64)
        self.foreign = rng.random(n) < spec.foreign_share
        products = rng.integers(spec.products[0], spec.products[1] + 1, n)
        self.products = np.where(self.foreign, 0, products)
        self.doc_len = rng.integers(spec.doc_chars[0], spec.doc_chars[1] + 1, n)
        self.doc_seed = rng.integers(0, 1_000_000, n)
        # row offsets of each block, for range slicing
        self._first = np.concatenate([[0], np.cumsum(per_block)])

    @property
    def end_block(self) -> int:
        return self.spec.start_block + self.spec.n_blocks - 1

    def _rows(self, lo: int, hi: int) -> range:
        a = max(lo, self.spec.start_block) - self.spec.start_block
        b = min(hi, self.end_block) - self.spec.start_block + 1
        if b <= a:
            return range(0)
        return range(int(self._first[a]), int(self._first[b]))

    def _hash(self, i: int) -> str:
        return f"Qm{self.spec.seed:x}b{self.block[i]}x{self.log_index[i]}"

    def logs(self, lo: int, hi: int) -> list[dict]:
        """``eth_getLogs`` result for blocks lo..hi inclusive."""
        out = []
        for i in self._rows(lo, hi):
            b, li = int(self.block[i]), int(self.log_index[i])
            if self.foreign[i]:
                row = (b, li, FOREIGN_ADDRESS, "Transfer", f"foreign-{b}-{li}", self._hash(i))
            else:
                row = (b, li, MARKETPLACE_ADDRESS, "ListingCreated", f"listing-{b}-{li}", self._hash(i))
            out.append(dict(zip(COLS, row)))
        return out

    def docs(self, lo: int, hi: int) -> list[tuple[str, str]]:
        """(ipfs_hash, doc JSON) for every marketplace log in lo..hi."""
        return [(self._hash(i), self._doc(i)) for i in self._rows(lo, hi) if not self.foreign[i]]

    def _doc(self, i: int) -> str:
        s = int(self.doc_seed[i])
        h = self._hash(i)
        text = (_FILLER * (int(self.doc_len[i]) // len(_FILLER) + 1))[: int(self.doc_len[i])]
        n = int(self.products[i])
        doc = {
            "listingType": "unit",
            "category": _CATEGORIES[s % len(_CATEGORIES)],
            "subcategory": None if s % 5 == 0 else f"sub-{s % 7}",
            "language": ["en", "de", "fr"][s % 3],
            "title": f"Listing {h}",
            "description": text,
            "price": {"amount": round(0.5 + (s % 1000) / 7.0, 4), "currency": _CURRENCIES[s % 3]},
            "products": [
                {
                    "id": f"p{h}-{k}",
                    "externalId": f"ext-{s}-{k}",
                    "parentExternalId": f"ext-{s}" if k else None,
                    "title": f"Product {k} of {h}",
                    "description": f"Variant {k}",
                    "price": 1000 + s * 10 + k,
                    "currency": _CURRENCIES[(s + k) % 3],
                    "option1": f"size-{k}" if k % 2 == 0 else None,
                    "option2": f"color-{k}" if k % 3 == 0 else None,
                    "option3": None,
                    "image": f"ipfs://{h}/img{k}.png",
                }
                for k in range(n)
            ]
            or None,
        }
        return json.dumps(doc)

    def totals(self, lo: int, hi: int) -> dict[str, int]:
        """Exact warehouse rows the pipeline must produce for lo..hi."""
        r = self._rows(lo, hi)
        own = ~self.foreign[r.start : r.stop]
        return {
            "marketplace": int(own.sum()),
            "dshop": int(self.products[r.start : r.stop][own].sum()),
        }
