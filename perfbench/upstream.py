"""Seeded Bexio-orders upstream for the ``replicate`` workload.

``OrdersUpstream`` holds two snapshots of a nested ``/kb_order`` API: the
*base* snapshot the warehouse already replicated, and the *sync* snapshot
the next scheduled run pulls (every base order, a share of them changed,
plus new orders). ``transport`` serves a snapshot through the offset
protocol ``sources.rest.paginate_offset`` speaks, in process, so a sync
exercises the real pagination, normalization and merge code with no
network. ``after_image`` is the expected warehouse content after a sync,
computed here in plain Python from the generated payloads.
"""

from __future__ import annotations

import hashlib

import numpy as np

_POSITION_TYPES = ("KbPositionCustom", "KbPositionArticle", "KbPositionDiscount")
_WORDS = "chair desk lamp cable screen dock mouse shelf board licence".split()


def _money(x: float) -> str:
    return f"{x:.2f}"


class OrdersUpstream:
    """Base and sync snapshots of ``n_base`` orders, deterministic in
    ``seed``. The sync snapshot re-serves every base order, rewrites a
    ``changed`` share of them (new totals, title, status and positions)
    and appends ``new`` * ``n_base`` orders."""

    def __init__(self, seed: int, n_base: int, changed: float, new: float):
        self._rng = np.random.default_rng(seed)
        self._next_position = 1
        self.base = self._orders(np.arange(1, n_base + 1), version=0)
        rewrite = np.flatnonzero(self._rng.random(n_base) < changed)
        self.sync = list(self.base)
        for k, o in zip(rewrite, self._orders(rewrite + 1, version=1)):
            self.sync[k] = o
        self.sync += self._orders(
            np.arange(n_base + 1, n_base + 1 + int(new * n_base)), version=1
        )

    def _orders(self, ids: np.ndarray, version: int) -> list[dict]:
        rng, n = self._rng, len(ids)
        n_pos = rng.integers(1, 6, n)
        total_pos = int(n_pos.sum())
        pos_ids = np.arange(self._next_position, self._next_position + total_pos)
        self._next_position += total_pos
        amount = rng.integers(1, 20, total_pos).astype(float)
        price = rng.integers(100, 50_000, total_pos) / 100.0
        disc = rng.integers(0, 4, total_pos) * 5.0
        pos_total = np.round(amount * price * (1 - disc / 100.0), 2)
        ptype = rng.integers(0, len(_POSITION_TYPES), total_pos)
        words = rng.integers(0, len(_WORDS), (total_pos, 3))
        ends = np.cumsum(n_pos)
        net = np.round(np.add.reduceat(pos_total, ends - n_pos), 2)
        rate = np.array([7.7, 8.1, 2.5])[rng.integers(0, 3, n)]
        taxes = np.round(net * rate / 100.0, 2)
        day = rng.integers(1, 29, n)
        ints = rng.integers(0, 1 << 30, (n, 6))
        out = []
        for i in range(n):
            oid = int(ids[i])
            lo, hi = ends[i] - n_pos[i], ends[i]
            positions = [
                {
                    "id": int(pos_ids[j]),
                    "type": _POSITION_TYPES[ptype[j]],
                    "amount": _money(amount[j]),
                    "unit_price": _money(price[j]),
                    "position_total": _money(pos_total[j]),
                    "text": " ".join(_WORDS[w] for w in words[j]),
                    "discount_in_percent": _money(disc[j]),
                }
                for j in range(lo, hi)
            ]
            gross = _money(net[i] + taxes[i])
            stamp = f"2026-0{1 + version}-{day[i]:02d}"
            c = ints[i]
            out.append(
                {
                    "id": oid,
                    "contact_id": int(c[0] % 5_000),
                    "user_id": int(c[1] % 50),
                    "kb_item_status_id": int(c[2] % 8),
                    "document_nr": f"AB-{oid:07d}",
                    "title": f"Order {oid} rev {version} {_WORDS[c[3] % 10]}",
                    "total_gross": gross,
                    "total_net": _money(net[i]),
                    "total_taxes": _money(taxes[i]),
                    "total": gross,
                    "mwst_type": int(c[4] % 3),
                    "mwst_is_net": bool(c[5] & 1),
                    "is_valid_from": stamp,
                    "delivery_address_type": int((c[5] >> 1) & 1),
                    "is_recurring": bool((c[5] >> 2) % 10 == 0),
                    "updated_at": stamp + " 08:00:00",
                    "taxs": [{"percentage": str(rate[i]), "value": _money(taxes[i])}],
                    "positions": positions,
                }
            )
        return out

    @staticmethod
    def transport(snapshot: list[dict]):
        """An offset-protocol transport (``?offset=N&limit=M``) over
        ``snapshot``."""

        def call(url: str, params: dict) -> list[dict]:
            lo = params["offset"]
            return snapshot[lo : lo + params["limit"]]

        return call

    def after_image(self) -> tuple[list[tuple], list[tuple]]:
        """Expected (parent rows, child rows) after merging ``sync`` into a
        table holding ``base``, as tuples in ``PARENT_DDL`` /
        ``CHILD_DDL`` column order. Every base order is re-served by the
        sync, so the after-image is the sync snapshot's projection."""
        parents, children = [], []
        for o in self.sync:
            u_id = hashlib.sha256(f"bexio-order:{o['id']}".encode()).hexdigest()
            parents.append(
                (
                    u_id, o["id"], o["contact_id"], o["user_id"],
                    o["kb_item_status_id"], o["document_nr"], o["title"],
                    float(o["total_gross"]), float(o["total_net"]),
                    float(o["total_taxes"]), float(o["total"]),
                    float(o["taxs"][0]["percentage"]), o["mwst_type"],
                    o["mwst_is_net"], o["is_valid_from"],
                    o["delivery_address_type"], o["is_recurring"],
                )
            )
            for p in o["positions"]:
                children.append(
                    (
                        o["id"], p["id"], p["type"], p["text"],
                        float(p["amount"]), float(p["unit_price"]),
                        float(p["position_total"]),
                        float(p["discount_in_percent"]),
                    )
                )
        return parents, children


#: Schemas of the after-image tuples: every column the spec projects
#: except the ``_now`` audit timestamps, typed as the spec's casts type them.
PARENT_DDL = (
    "u_id string, id bigint, contact_id bigint, user_id bigint,"
    " kb_item_status_id int, document_nr string, title string,"
    " total_gross double, total_net double, total_taxes double, total double,"
    " tax_percentage double, mwst_type int, mwst_is_net boolean,"
    " is_valid_from string, delivery_address_type int, is_recurring boolean"
)
CHILD_DDL = (
    "order_id bigint, position_id bigint, type string, text string,"
    " amount double, unit_price double, position_total double,"
    " discount_in_percent double"
)
