"""Independent expected-state model for the replication workload.

Plain Python over the generator's own events — no Spark — so a wrong
merge, a lost file or a double-applied batch shows as a mismatch.
"""

from __future__ import annotations

ALLOWED = ("INSERT", "MODIFY")


def _key(ev: dict) -> str | None:
    img = ev.get("newImage")
    return img["id"] if img else ev.get("removedId")


class ChangeModel:
    """Expected append log, error channel and merge table after a set of
    change files has been applied."""

    def __init__(self) -> None:
        self.table: dict[str, dict] = {}
        self.appended = 0
        self.errors = 0

    def apply_files(self, files: list[list[dict]]) -> None:
        """Apply whole files; within one delivery the highest ``seq``
        per key wins whatever the line order, and a REMOVE deletes."""
        events = [ev for f in files for ev in f]
        for ev in events:
            name = ev["eventName"]
            if name in ALLOWED:
                self.appended += 1
            elif name != "REMOVE":
                self.errors += 1
        for ev in sorted(events, key=lambda e: e["seq"]):
            name = ev["eventName"]
            if name == "REMOVE":
                self.table.pop(_key(ev), None)
            elif name in ALLOWED:
                self.table[_key(ev)] = ev["newImage"]


class KeyedModel:
    """The NoSQL leg's keyed table: each tick's documents replace the
    stored document of the same id (put_item)."""

    def __init__(self) -> None:
        self.docs: dict[str, dict] = {}

    def tick(self, docs: list[dict]) -> None:
        for d in docs:
            self.docs[d["id"]] = d


def normalize_trade(doc: dict) -> dict:
    """A trade document in the shape Spark reads it back (every schema
    field present, absent ones null)."""
    det = doc.get("details") or {}
    return {
        "id": doc["id"],
        "details": {
            "asks": det.get("asks"),
            "bids": det.get("bids"),
            "lag": det.get("lag"),
            "system": det.get("system"),
        },
        "price": doc.get("price"),
        "shares": doc.get("shares"),
        "ticker": doc.get("ticker"),
        "ticket": doc.get("ticket"),
        "time": {"date": (doc.get("time") or {}).get("date")},
    }
