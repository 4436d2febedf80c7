"""Seeded Alma publish-drop generator with ground truth.

Pure Python on purpose: it writes MARCXML with its own serializer and
never imports the engine, so a change to the engine's MARC code cannot
change the benchmark's inputs.

The model is a list of `Bib` objects. From it the generator writes

- the initial publish drop (MARCXML collections inside tar.gz files),
- an incremental re-publish of about 10 % of the bibs, half with newer
  and half with older update dates, some holdings and items dropped,
  a few new bibs, a few malformed records and a delete manifest,
- the truth each stage must reproduce: run counters, warehouse row
  counts, version counts and history rows, computed from the model and
  never from the engine's output.
"""

from __future__ import annotations

import copy
import gzip
import io
import os
import random
import tarfile
from dataclasses import dataclass, field, replace
from xml.sax.saxutils import escape, quoteattr

SUFFIX = "8651"                  # institution suffix of Alma ids
LOCATIONS = [(lib, loc) for lib in ("SML", "BASS", "LAW", "MUS", "BEIN")
             for loc in ("STACKS", "REF", "MICRO", "OVERSIZE", "RESERVE")]
STATUS_CODES = ("0", "1")        # BaseStatus: not in place / in place
CALL_NUMBER_TYPES = ("0", "1", "4", "8")

# Holdings per bib and items per holding, (value, weight), right-skewed
# within the repo's fixture spec (FIXTURES.md §1 and §3: 1-3 holdings
# per bib, 0-5 items per holding, bib:holding:item about 1:1.5:3).
# Means: 1.5 holdings per bib, 2.03 items per holding.
HOLDINGS_PER_BIB = ((1, 60), (2, 30), (3, 10))
ITEMS_PER_HOLDING = ((0, 12), (1, 30), (2, 26), (3, 15), (4, 9), (5, 8))

BAD_SHARE = 0.02                 # malformed records in a full drop
REPUBLISH_SHARE = 0.1            # bibs re-published by an incremental drop
DELETE_SHARE = 0.02              # bibs deleted by its manifest
NEW_SHARE = 0.02                 # new bibs it inserts

OLD_TS = "2018-03-04 05:06:07"       # older than any base update date
NEW_TS = "2025-08-09 10:11:12"       # newer than any base update date


@dataclass
class Item:
    pid: str
    barcode: str
    status: str
    created: str
    modified: str
    temp: tuple[str, str] | None     # (library, location) when away


@dataclass
class Holding:
    hid: str
    lib: str
    loc: str
    call_number: str
    created: str
    updated: str
    dual_009: bool                   # original Voyager id + leader group
    items: list[Item] = field(default_factory=list)


@dataclass
class Bib:
    mms_id: str
    title: str
    author: str
    created: str
    updated: str
    parts: list[str]                 # 774 $w host/constituent links
    holdings: list[Holding] = field(default_factory=list)


def _weighted(rng: random.Random, table) -> int:
    values, weights = zip(*table)
    return rng.choices(values, weights)[0]


def _ts(rng: random.Random, year0: int, year1: int) -> str:
    return (f"{rng.randint(year0, year1)}-{rng.randint(1, 12):02d}-"
            f"{rng.randint(1, 28):02d} {rng.randint(0, 23):02d}:"
            f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}")


class _Ids:
    """Sequential Alma-shaped ids: 99… bibs, 22… holdings, 23… items."""

    def __init__(self) -> None:
        self.n = 100000

    def next(self, prefix: str) -> str:
        self.n += 1
        return f"{prefix}{self.n}{SUFFIX}"


def _make_bib(rng: random.Random, ids: _Ids, words: list[str]) -> Bib:
    bib = Bib(mms_id=ids.next("99"),
              title=" ".join(rng.choices(words, k=rng.randint(2, 6))).title(),
              author=f"{rng.choice(words).title()}, {rng.choice(words).title()}",
              created=_ts(rng, 2019, 2020), updated=_ts(rng, 2021, 2024),
              parts=[])
    for _ in range(_weighted(rng, HOLDINGS_PER_BIB)):
        lib, loc = rng.choice(LOCATIONS)
        h = Holding(hid=ids.next("22"), lib=lib, loc=loc,
                    call_number=f"QA{rng.randint(1, 999)} .{rng.choice('ABCDEFGH')}"
                                f"{rng.randint(10, 99)}",
                    created=_ts(rng, 2019, 2020),
                    updated=_ts(rng, 2021, 2024),
                    dual_009=rng.random() < 0.3)
        for _ in range(_weighted(rng, ITEMS_PER_HOLDING)):
            pid = ids.next("23")
            temp = rng.choice(LOCATIONS) if rng.random() < 0.1 else None
            h.items.append(Item(pid=pid, barcode=f"39002{pid[2:-4]}",
                                status=rng.choice(STATUS_CODES),
                                created=_ts(rng, 2019, 2020),
                                modified=_ts(rng, 2021, 2024), temp=temp))
        bib.holdings.append(h)
    return bib


# --- MARC record dicts and MARCXML ------------------------------------------
def _cf(tag: str, data: str) -> tuple:
    return ("c", tag, data)


def _df(tag: str, *subs: tuple[str, str], ind1=" ", ind2=" ") -> tuple:
    return ("d", tag, ind1, ind2, subs)


def record_fields(bib: Bib) -> tuple[list[tuple], list[tuple]]:
    """(control fields, data fields) of one Alma publish record, with
    holdings embedded the way Alma publishes them: one control group
    per holding, 852/HLD/866 carrying the holding id in $8, and ITM
    fields carrying it in $0."""
    ctrl = [_cf("005", "20240101120000.0"), _cf("001", bib.mms_id),
            _cf("008", "200101s2020    ctua          000 0 eng d")]
    data = [
        _df("245", ("a", bib.title + " :"), ("b", "a study."), ind1="1",
            ind2="0"),
        _df("100", ("a", bib.author + ","), ("0", "n00000000"), ind1="1"),
        _df("260", ("a", "New Haven :"), ("b", "Yale,"), ("c", "2020.")),
        _df("020", ("a", f"978{bib.mms_id[2:12]}")),
        _df("035", ("a", f"(OCoLC){bib.mms_id[2:11]}")),
        _df("BIB", ("a", "false"), ("1", bib.created + " US/Eastern"),
            ("2", bib.updated + " US/Eastern")),
    ]
    data += [_df("774", ("w", p), ("t", "Part"), ind1="0") for p in bib.parts]
    for n, h in enumerate(bib.holdings):
        group = [_cf("005", f"2024010{n % 9 + 1}120000.0"), _cf("002", "ta"),
                 _cf("003", "2401025u    8   4001uueng0000000"),
                 _cf("009", f"00000nx  a2200000{n % 10}n 4500")]
        if h.dual_009:
            group.insert(0, _cf("009", str(1000000 + int(h.hid[2:8]))))
        ctrl += group
        data.append(_df("852", ("8", h.hid), ("b", h.lib), ("c", h.loc),
                        ("h", h.call_number.split(" ")[0]),
                        ("i", h.call_number.split(" ")[1]), ind1="0"))
        data.append(_df("HLD", ("8", h.hid), ("a", "false"),
                        ("1", h.created + " US/Eastern"),
                        ("2", h.updated + " US/Eastern")))
        if len(h.items) > 3:
            data.append(_df("866", ("8", h.hid), ("a", "v.1-10")))
    for h in bib.holdings:
        for it in h.items:
            tlib, tloc = it.temp or (h.lib, h.loc)
            data.append(_df("ITM", ("0", h.hid), ("2", it.pid),
                            ("1", it.barcode), ("h", h.lib), ("s", h.loc),
                            ("i", tlib), ("t", tloc), ("x", it.status),
                            ("w", it.created), ("r", it.modified),
                            ("e", "v.1"), ("f", "2020")))
    return ctrl, data


def _malformed(rng: random.Random, ids: _Ids, kind: int) -> tuple[list, list]:
    """A record the split routes to `errors`: no 001, or an 852 whose
    holding has no control group."""
    if kind == 0:
        return ([_cf("005", "20240101120000.0"),
                 _cf("008", "200101s2020    ctua          000 0 eng d")],
                [_df("245", ("a", "No identifier"))])
    mms = ids.next("99")
    return ([_cf("001", mms), _cf("005", "20240101120000.0")],
            [_df("245", ("a", "Orphan holding")),
             _df("852", ("8", ids.next("22")), ("b", "SML"), ("c", "STACKS"))])


def to_marcxml(ctrl: list[tuple], data: list[tuple]) -> str:
    out = ["<record><leader>00000cam a2200000 a 4500</leader>"]
    for _, tag, value in ctrl:
        out.append(f"<controlfield tag={quoteattr(tag)}>{escape(value)}"
                   "</controlfield>")
    for _, tag, ind1, ind2, subs in data:
        out.append(f"<datafield tag={quoteattr(tag)} ind1={quoteattr(ind1)} "
                   f"ind2={quoteattr(ind2)}>")
        out.extend(f"<subfield code={quoteattr(c)}>{escape(v)}</subfield>"
                   for c, v in subs)
        out.append("</datafield>")
    out.append("</record>")
    return "".join(out)


def _tar_gz(member: str, payload: bytes) -> bytes:
    """Deterministic tar.gz: fixed mtimes in both the tar and gzip headers."""
    buf = io.BytesIO()
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0) as gz:
        with tarfile.open(fileobj=gz, mode="w", format=tarfile.USTAR_FORMAT) as tar:
            info = tarfile.TarInfo(member)
            info.size = len(payload)
            info.mtime = 0
            tar.addfile(info, io.BytesIO(payload))
    return buf.getvalue()


def _collection(records: list[tuple[list, list]]) -> bytes:
    return ('<?xml version="1.0" encoding="UTF-8"?>'
            '<collection xmlns="http://www.loc.gov/MARC21/slim">'
            + "".join(to_marcxml(c, d) for c, d in records)
            + "</collection>").encode()


def _files(prefix: str, records: list[tuple[list, list]],
           n_files: int) -> dict[str, bytes]:
    n_files = max(1, min(n_files, len(records)))
    return {f"{prefix}_new_{k + 1}.tar.gz":
            _tar_gz(f"{prefix}_new_{k + 1}.xml", _collection(records[k::n_files]))
            for k in range(n_files)}


# --- the drop model ---------------------------------------------------------
@dataclass
class Drop:
    """One generated drop: file name → bytes, plus its truth."""
    files: dict[str, bytes]
    truth: dict

    def write(self, directory: str) -> None:
        os.makedirs(directory, exist_ok=True)
        for name, blob in self.files.items():
            with open(os.path.join(directory, name), "wb") as f:
                f.write(blob)


def _counts(bibs: list[Bib]) -> dict[str, int]:
    hs = [h for b in bibs for h in b.holdings]
    return {"bibs": len(bibs), "holdings": len(hs),
            "items": sum(len(h.items) for h in hs),
            "bib_parts": sum(len(b.parts) for b in bibs)}


class Corpus:
    """The base catalogue of one seed and the drops derived from it."""

    def __init__(self, seed: int, n_bibs: int, n_files: int = 4) -> None:
        rng = random.Random(f"corpus-{seed}")
        self.seed, self.n_files = seed, n_files
        self.ids = _Ids()
        words = ["".join(rng.choices("abcdefghiklmnoprstuvy", k=rng.randint(3, 9)))
                 for _ in range(400)]
        self.words = words
        self.bibs = [_make_bib(rng, self.ids, words) for _ in range(n_bibs)]
        for b in self.bibs:                   # constituent-unit links
            if rng.random() < 0.1:
                b.parts = sorted({rng.choice(self.bibs).mms_id
                                  for _ in range(rng.randint(1, 2))} - {b.mms_id})
        self.n_bad = max(1, round(n_bibs * BAD_SHARE))
        self.bad = [_malformed(rng, self.ids, k % 2) for k in range(self.n_bad)]

    def initial_drop(self) -> Drop:
        recs = [record_fields(b) for b in self.bibs] + self.bad
        random.Random(f"order-{self.seed}").shuffle(recs)
        files = _files(f"full-{self.seed}", recs, self.n_files)
        c = _counts(self.bibs)
        counters = {"cnt_records": len(recs), "cnt_files": len(files),
                    "cnt_bibs": c["bibs"], "cnt_holdings": c["holdings"],
                    "cnt_items": c["items"], "cnt_errors": self.n_bad,
                    "cnt_deletes": 0}
        warehouse = {"bib_brief": c["bibs"], "holding_brief": c["holdings"],
                     "item": c["items"], "bib_part": c["bib_parts"],
                     "errors": self.n_bad, "deleted_record": 0,
                     "version2": {"bib_brief": 0, "holding_brief": 0,
                                  "item": 0}}
        return Drop(files, {"counters": counters, "warehouse": warehouse,
                            "view_items": self._view_items(self.bibs)})

    def incremental_drop(self, seed: int) -> Drop:
        """Re-publish a share of the bibs (half newer, half older), drop
        some holdings and items from them, add new bibs and malformed
        records, and delete other bibs by manifest. The catalogue is not
        changed: every call with one seed gives the same drop."""
        rng = random.Random(f"incremental-{self.seed}-{seed}")
        ids = copy.copy(self.ids)
        n = len(self.bibs)
        n_deletes = max(1, round(n * DELETE_SHARE))
        order = rng.sample(range(n), n)
        repub = [self.bibs[i] for i in order[:max(2, round(n * REPUBLISH_SHARE))]]
        doomed = [self.bibs[i] for i in order[len(repub):len(repub) + n_deletes]]
        newer = repub[: len(repub) // 2]
        older = repub[len(repub) // 2:]

        stale_h = stale_h_items = stale_items = 0
        v2 = {"bib_brief": 0, "holding_brief": 0, "item": 0}
        out_bibs: list[Bib] = []
        for k, b in enumerate(repub):
            is_new = k < len(newer)
            ts = NEW_TS if is_new else OLD_TS
            holdings = []
            for h in b.holdings:
                holdings.append(replace(
                    h, updated=ts,
                    items=[replace(it, modified=ts) for it in h.items]))
            if k % 3 == 0 and len(holdings) > 1:       # stale holding
                gone = holdings.pop()
                stale_h += 1
                stale_h_items += len(gone.items)
            if k % 3 == 1:                              # stale item
                for h in holdings:
                    if len(h.items) > 1:
                        h.items = h.items[:-1]
                        stale_items += 1
                        break
            nb = replace(b, title=b.title + " Revised", updated=ts,
                         holdings=holdings)
            out_bibs.append(nb)
            if is_new:
                v2["bib_brief"] += 1
                v2["holding_brief"] += len(holdings)
                v2["item"] += sum(len(h.items) for h in holdings)
        fresh = [_make_bib(rng, ids, self.words)
                 for _ in range(max(1, round(n * NEW_SHARE)))]
        n_bad = max(1, self.n_bad // 2)
        bad = [_malformed(rng, ids, k % 2) for k in range(n_bad)]
        recs = [record_fields(b) for b in out_bibs + fresh] + bad
        rng.shuffle(recs)
        prefix = f"incremental-{seed}"
        files = _files(prefix, recs, max(1, self.n_files // 2))

        # delete manifest: 001 of each doomed bib, and for two in three
        # the 852 of its first holding (holding delete cascading to items)
        del_recs, del_h, del_h_items = [], 0, 0
        for k, b in enumerate(doomed):
            ctrl = [_cf("001", b.mms_id), _cf("005", "20240101120000.0")]
            data = [_df("245", ("a", b.title))]
            if k % 3 != 2 and b.holdings:
                h = b.holdings[0]
                data.append(_df("852", ("8", h.hid), ("b", h.lib), ("c", h.loc)))
                del_h += 1
                del_h_items += len(h.items)
            del_recs.append((ctrl, data))
        files[f"{prefix}_delete_1.tar.gz"] = _tar_gz(
            f"{prefix}_delete_1.xml", _collection(del_recs))

        base = _counts(self.bibs)
        inc = _counts(out_bibs + fresh)
        new = _counts(fresh)
        counters = {"cnt_records": len(recs),
                    "cnt_files": len(files) - 1,
                    "cnt_bibs": inc["bibs"], "cnt_holdings": inc["holdings"],
                    "cnt_items": inc["items"], "cnt_errors": n_bad,
                    "cnt_deletes": len(doomed)}
        history = {"bib": len(doomed), "holding": stale_h + del_h,
                   "item": stale_h_items + stale_items + del_h_items}
        warehouse = {
            "bib_brief": base["bibs"] - len(doomed) + new["bibs"],
            "holding_brief": base["holdings"] - stale_h - del_h + new["holdings"],
            "item": (base["items"] - stale_h_items - stale_items - del_h_items
                     + new["items"]),
            "bib_part": base["bib_parts"] + new["bib_parts"],
            "errors": self.n_bad + n_bad,
            "deleted_record": sum(history.values()),
            "history": history,
            "version2": v2,
            "revised_titles": len(newer),
        }
        # the item_info view after the run: bibs deleted by manifest leave
        # it (inner join on bib_brief); new bibs have no side-table rows
        gone = {b.mms_id for b in doomed}
        after = {b.mms_id: b for b in self.bibs if b.mms_id not in gone}
        after.update((b.mms_id, b) for b in out_bibs)
        return Drop(files, {"counters": counters, "warehouse": warehouse,
                            "republished": len(repub), "newer": len(newer),
                            "older": len(older),
                            "view_items": self._view_items(after.values())})

    # --- side tables for the item_info view ----------------------------------
    def location_rows(self) -> list[tuple[int, str, str]]:
        return [(i + 1, lib, loc) for i, (lib, loc) in enumerate(LOCATIONS)]

    def side_rows(self) -> list[dict]:
        """Per-item facts of the base catalogue that the view's side
        tables (status, JSON data, requests, temporary location) carry."""
        loc_id = {key: i + 1 for i, key in enumerate(LOCATIONS)}
        rng = random.Random(f"side-{self.seed}")
        return [{"pid": it.pid, "holding_id": h.hid, "mms_id": b.mms_id,
                 "status": it.status,
                 "temp_location_id": loc_id[it.temp] if it.temp else None,
                 "call_number_type": rng.choice(CALL_NUMBER_TYPES),
                 "requests": rng.choices((0, 1, 2, 3), (70, 20, 7, 3))[0]}
                for b in self.bibs for h in b.holdings for it in h.items]

    def _view_items(self, bibs) -> list[dict]:
        """The rows item_info should hold: items of the given bibs that
        the base catalogue's side tables cover."""
        cnt = {r["pid"]: r["call_number_type"] for r in self.side_rows()}
        return [{"pid": it.pid, "barcode": it.barcode, "mms_id": b.mms_id,
                 "lib": h.lib, "loc": h.loc,
                 "call_number_type": cnt[it.pid]}
                for b in bibs for h in b.holdings for it in h.items
                if it.pid in cnt]
