"""An independent pandas model of the two sync stores and the engine's
cycle semantics: the reference the sync workloads' final stores and
ledger counts must equal exactly.

It restates the contract ``SyncEngine`` documents, not its code:

- ``full_sync``: per key, the row with the greatest (version, side,
  price) wins on both sides; the watermark becomes the greatest version.
- a cycle reads each side's rows with ``version >= watermark``, ships
  the rows the other side's read lacks (compared on key, price and
  version), applies each shipped row where it beats the target row by
  (version, side, price) or the key is missing, and moves the watermark
  to the greatest version read. ``shipped_a``/``shipped_b`` count the
  ship sets; ``conflict_keys`` counts keys shipped both ways.
- a CQL ``UPDATE`` upserts price/version/side on A; an ES
  ``_update_by_query`` adds a delta to the price of every matched
  document on B and stamps version/side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

_COLS = ["price", "version", "side"]


def store_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """A store (key, price, version, side) - generated, or read back
    from Spark - in the model's layout: indexed by key, version as
    integer microseconds."""
    pdf = pdf.copy()
    pdf["version"] = pdf["version"].astype("datetime64[us]").astype(np.int64)
    return pdf.set_index("key")[_COLS].sort_index()


def _beats(src: pd.DataFrame, tgt: pd.DataFrame) -> pd.Series:
    """Row-wise (version, side, price) > comparison on aligned frames."""
    return ((src["version"] > tgt["version"])
            | ((src["version"] == tgt["version"])
               & ((src["side"] > tgt["side"])
                  | ((src["side"] == tgt["side"])
                     & (src["price"] > tgt["price"])))))


def _lww_upsert(target: pd.DataFrame, rows: pd.DataFrame) -> pd.DataFrame:
    """Apply ``rows`` (unique keys) to ``target`` with LWW resolution."""
    common = rows.index.intersection(target.index)
    win = _beats(rows.loc[common], target.loc[common])
    target = target.copy()
    target.loc[common[win.to_numpy()]] = rows.loc[common[win.to_numpy()]]
    new = rows.loc[rows.index.difference(target.index)]
    if len(new):
        target = pd.concat([target, new]).sort_index()
    return target


class SyncModel:
    def __init__(self, side_a: pa.Table, side_b: pa.Table):
        self.a = store_frame(side_a.to_pandas())
        self.b = store_frame(side_b.to_pandas())
        self.wm: int | None = None
        self.ledger: list[dict] = []

    def full_sync(self) -> None:
        both = pd.concat([self.a, self.b]).reset_index()
        both = both.sort_values(["key", "version", "side", "price"])
        merged = both.drop_duplicates("key", keep="last").set_index("key")
        self.a = merged[_COLS].sort_index()
        self.b = self.a.copy()
        self.wm = int(merged["version"].max())

    def write_a(self, keys: np.ndarray, prices: np.ndarray,
                versions: np.ndarray) -> None:
        rows = pd.DataFrame({"price": prices.astype(float),
                             "version": versions.astype(np.int64),
                             "side": "a"}, index=pd.Index(keys, name="key"))
        self.a = pd.concat([self.a.drop(keys, errors="ignore"),
                            rows]).sort_index()

    def write_b(self, keys: np.ndarray, delta: float, version: int) -> int:
        hit = self.b.index.intersection(keys)
        self.b.loc[hit, "price"] = self.b.loc[hit, "price"] + delta
        self.b.loc[hit, "version"] = version
        self.b.loc[hit, "side"] = "b"
        return len(hit)

    def cycle(self) -> int:
        def since(df):
            return df if self.wm is None else df[df["version"] >= self.wm]
        da, db = since(self.a).reset_index(), since(self.b).reset_index()
        on = ["key", "price", "version"]
        ship_a = da.merge(db[on], on=on, how="left", indicator=True)
        ship_a = ship_a[ship_a["_merge"] == "left_only"].drop(columns="_merge")
        ship_b = db.merge(da[on], on=on, how="left", indicator=True)
        ship_b = ship_b[ship_b["_merge"] == "left_only"].drop(columns="_merge")
        seen = pd.concat([da["version"], db["version"]])
        self.b = _lww_upsert(self.b, ship_a.set_index("key")[_COLS])
        self.a = _lww_upsert(self.a, ship_b.set_index("key")[_COLS])
        if len(seen):
            self.wm = int(seen.max())
        self.ledger.append({
            "shipped_a": len(ship_a), "shipped_b": len(ship_b),
            "conflict_keys": len(set(ship_a["key"]) & set(ship_b["key"])),
        })
        return len(ship_a) + len(ship_b)


def frame_diff(got: pd.DataFrame, want: pd.DataFrame, limit: int = 3) -> str:
    """'' when equal, else a short description of the first differences."""
    if got.index.equals(want.index) and got.equals(want):
        return ""
    if not got.index.equals(want.index):
        extra = got.index.difference(want.index)[:limit].tolist()
        missing = want.index.difference(got.index)[:limit].tolist()
        return (f"{len(got)} rows vs {len(want)} expected; unexpected keys "
                f"{extra}, missing keys {missing}")
    bad = (got != want).any(axis=1)
    keys = got.index[bad.to_numpy()][:limit]
    return (f"{int(bad.sum())} rows differ, e.g. "
            + "; ".join(f"key {k}: {got.loc[k].tolist()} != "
                        f"{want.loc[k].tolist()}" for k in keys))
