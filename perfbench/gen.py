"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` (and the size arguments):
the same seed writes byte-identical files.  The program under test only
ever sees these files.

Two families:

- :class:`ListingFeed` writes raw listings day-files, one per day, in the shape
  of the reference's extract stage (a header plus the six columns
  ``purpose, address, size_m2, design, price_czk, link``, tab-separated).
  A fixed share of the rows is dirty so that every rule of the clean chain
  fires; the shares are the module constant :data:`LISTING_SHARES`.  Each
  day re-lists a share of the previous day's links.
- :func:`write_corpus_tables` writes the ``documents`` and ``embeddings``
  parquet tables the curation queries read, in the shape of the engine's
  synthetic test tables (a 30-word vocabulary, planted ``" dup"``
  near-duplicates and exact duplicates, unit-norm 64-d embeddings with
  labels 0-9).
"""

from __future__ import annotations

import os

import numpy as np

#: share of rows (per day-file) that carry each dirty value, and the clean
#: rule it fires.  Shares are of the day's distinct listings unless noted.
LISTING_SHARES = {
    "price_nbsp_thousands": 0.30,   # C2: NBSP thousands separator
    "price_kc_hacek": 0.10,         # C3/C4: 'Kč' suffix instead of 'Kc'
    "price_eur": 0.03,              # F1: EUR price, dropped
    "price_on_request": 0.02,       # C4: no digits -> NULL -> dropped by F2
    "price_below_500": 0.01,        # F2
    "rent_price_floor": 0.02,       # F3: rent keyword, price <= 1000
    "sale_price_floor": 0.02,       # F4: sale keyword, price <= 20000
    "size_superscript_m2": 0.10,    # C5/C6: 'm²' does not parse -> 0
    "size_blank": 0.05,             # C6: empty -> NULL -> 0
    "size_junk": 0.03,              # C5: non-numeric -> 0
    "address_kraj": 0.55,           # C10-C12: region from '... kraj'
    "address_kraj_vysocina": 0.03,  # C10-C12: inverted 'Kraj Vysocina'
    "address_praha": 0.37,          # C11: no 'kraj' -> 'Praha'
    "address_bad_region": 0.05,     # F5: 'kraj' outside the whitelist
    "land_price_outlier": 0.01,     # F6: 'Prodej pozemku' > 80000 CZK/m2
    "dup_exact_copy": 0.03,         # D1: within-file duplicate link (copy)
    "dup_price_changed": 0.01,      # D1: within-file duplicate, new price
    "relisted_from_previous_day": 0.25,  # same link in the next day's file
}

_REGIONS_OK = [
    "Jihocesky kraj", "Jihomoravsky kraj", "Karlovarsky kraj",
    "Kralovehradecky kraj", "Liberecky kraj", "Moravskoslezsky kraj",
    "Olomoucky kraj", "Pardubicky kraj", "Plzensky kraj",
    "Stredocesky kraj", "Ustecky kraj", "Zlinsky kraj",
]
_REGIONS_BAD = ["Horni kraj", "Dolni kraj", "Severni kraj"]
_TOWNS = ["Brno", "Ostrava", "Plzen", "Liberec", "Olomouc", "Zlin", "Kladno",
          "Most", "Opava", "Tabor", "Pisek", "Jihlava", "Trebic", "Kolin"]
_STREETS = ["Sokolovska", "Narodni", "Vinohradska", "Dlouha", "Husova",
            "Masarykova", "Palackeho", "Nadrazni", "Skolni", "Zahradni"]
_DESIGNS = ["1+kk", "1+1", "2+kk", "2+1", "3+kk", "3+1", "4+kk", "4+1", "5+1"]
_SALE = ["Prodej bytu", "Prodej domu", "Prodej nebytoveho prostoru",
         "Prodej chaty, chalupy", "Prodej garaze", "Prodej kancelare"]
_RENT = ["Pronajem kancelare", "Pronajem nebytoveho prostoru",
         "Pronajem chaty, chalupy", "Pronajem domu", "Pronajem pozemku"]
# outside both keyword lists: no price floor applies (reference quirk)
_OTHER = ["Pronajem bytu", "Drazba bytu"]
_NBSP = " "

#: raw column order of the extract stage
LISTING_COLUMNS = ["purpose", "address", "size_m2", "design", "price_czk", "link"]


def _thousands(n: int, sep: str) -> str:
    return f"{n:,}".replace(",", sep)


class ListingFeed:
    """Deterministic day-by-day listings feed.

    Day ``d`` depends only on ``(seed, d)`` and the previous day's links,
    so days are produced in order by :meth:`write_day`.
    """

    def __init__(self, seed: int, rows_per_day: int):
        self.seed = int(seed)
        self.rows_per_day = int(rows_per_day)
        #: the links of the last day written
        self.links: list[str] = []
        self._next_id = 0
        self._day = 0

    @staticmethod
    def _listings(rng: np.random.Generator, links: list[str]) -> list[list[str]]:
        """One raw row per link; every random draw is made up front."""
        s = LISTING_SHARES
        n = len(links)
        u = rng.random((n, 8))

        def pick(options: list[str]) -> np.ndarray:
            return rng.integers(len(options), size=n)

        sale, rent, other = pick(_SALE), pick(_RENT), pick(_OTHER)
        flat_design, design = pick(_DESIGNS), pick(_DESIGNS)
        town, street, region, bad = pick(_TOWNS), pick(_STREETS), pick(_REGIONS_OK), \
            pick(_REGIONS_BAD)
        sale_price = rng.integers(800_000, 15_000_000, n)
        rent_price = rng.integers(6_000, 60_000, n)
        other_price = rng.integers(1_000, 9_000_000, n)
        size = rng.integers(18, 400, n)
        land_size = rng.integers(20, 200, n)
        land_ppm = rng.integers(80_500, 200_000, n)
        below_500 = rng.integers(1, 500, n)
        rent_floor = rng.integers(500, 1001, n)
        sale_floor = rng.integers(500, 20_001, n)
        praha = rng.integers(1, 11, n)
        # cumulative thresholds: each dirty price case fires exactly one rule
        t_land = s["land_price_outlier"]
        t_low = t_land + s["price_below_500"]
        t_rent = t_low + s["rent_price_floor"]
        t_sale = t_rent + s["sale_price_floor"]
        a_kraj = s["address_kraj"]
        a_vys = a_kraj + s["address_kraj_vysocina"]
        a_praha = a_vys + s["address_praha"]
        z_sup = s["size_superscript_m2"]
        z_blank = z_sup + s["size_blank"]
        z_junk = z_blank + s["size_junk"]
        p_eur = s["price_eur"]
        p_req = p_eur + s["price_on_request"]

        rows = []
        for i, link in enumerate(links):
            # purpose: ~70 % sale, ~22 % rent keyword, ~8 % outside both lists
            kind = u[i, 7]
            if kind < 0.70:
                purpose, price = _SALE[sale[i]], int(sale_price[i])
                if purpose == "Prodej bytu":
                    purpose += " " + _DESIGNS[flat_design[i]]
            elif kind < 0.92:
                purpose, price = _RENT[rent[i]], int(rent_price[i])
            else:
                purpose, price = _OTHER[other[i]], int(other_price[i])
            sz = int(size[i])
            c = u[i, 0]
            if c < t_land:
                purpose, sz = "Prodej pozemku", int(land_size[i])
                price = sz * int(land_ppm[i])
            elif c < t_low:
                price = int(below_500[i])
            elif c < t_rent:
                purpose, price = _RENT[rent[i]], int(rent_floor[i])
            elif c < t_sale:
                purpose, price = _SALE[sale[i]], int(sale_floor[i])

            a = u[i, 1]
            if a < a_kraj:
                address = f"{_STREETS[street[i]]}, {_TOWNS[town[i]]}, {_REGIONS_OK[region[i]]}"
            elif a < a_vys:
                address = f"{_STREETS[street[i]]}, {_TOWNS[town[i]]}, Kraj Vysocina"
            elif a < a_praha:
                address = f"{_STREETS[street[i]]}, Praha {praha[i]}"
            else:
                address = f"{_TOWNS[town[i]]}, {_REGIONS_BAD[bad[i]]}"

            b = u[i, 2]
            size_s = (f"{sz} m²" if b < z_sup else "" if b < z_blank
                      else "na dotaz" if b < z_junk else f"{sz} m2")

            c = u[i, 3]
            if c < p_eur:
                price_s = f"{_thousands(max(price // 25, 1), ' ')} EUR"
            elif c < p_req:
                price_s = "Cena na vyzadani"
            else:
                sep = _NBSP if u[i, 4] < s["price_nbsp_thousands"] else " "
                cur = "Kč" if u[i, 5] < s["price_kc_hacek"] else "Kc"
                price_s = f"{_thousands(price, sep)} {cur}"

            rows.append([purpose, address, size_s,
                         _DESIGNS[design[i]] if u[i, 6] < 0.8 else "", price_s, link])
        return rows

    def write_day(self, path: str) -> int:
        """Write the next day-file to ``path``; returns its row count."""
        s = LISTING_SHARES
        rng = np.random.default_rng([self.seed, self._day])
        n = self.rows_per_day
        n_dup = int(n * (s["dup_exact_copy"] + s["dup_price_changed"]))
        n_distinct = n - n_dup
        n_relist = min(len(self.links),
                       int(n_distinct * s["relisted_from_previous_day"]))
        relisted = [self.links[i] for i in
                    rng.choice(len(self.links), n_relist, replace=False)] \
            if n_relist else []
        fresh = [f"/detail/{self._next_id + i:09d}" for i in range(n_distinct - n_relist)]
        self._next_id += len(fresh)
        links = relisted + fresh
        rows = self._listings(rng, links)
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]

        # within-file duplicates: a later copy of an earlier row
        n_changed = int(n * s["dup_price_changed"])
        for j in range(n_dup):
            src = int(rng.integers(len(rows)))
            dup = list(rows[src])
            if j < n_changed:
                dup[4] = f"{_thousands(int(rng.integers(900_000, 9_000_000)), ' ')} Kc"
            rows.insert(int(rng.integers(src + 1, len(rows) + 1)), dup)

        with open(path, "w", encoding="utf-8", newline="") as fh:
            fh.write("\t".join(LISTING_COLUMNS) + "\n")
            for r in rows:
                fh.write("\t".join(r) + "\n")
        self.links = links
        self._day += 1
        return len(rows)


# --------------------------------------------------------------------------
# curation corpus
# --------------------------------------------------------------------------

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def write_corpus_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` under
    ``out_dir``; returns their row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 1_000_003])
    os.makedirs(out_dir, exist_ok=True)

    texts: list[str] = []
    for _ in range(n_docs):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(_VOCAB[i] for i in rng.integers(len(_VOCAB), size=k)))
    # 5 % planted near-duplicates (another doc + " dup"), 0.2 % exact copies
    ids = rng.permutation(n_docs)
    n_near, n_exact = n_docs // 20, max(1, n_docs // 500)
    for i in range(n_near):
        texts[ids[i]] = texts[ids[n_near + i]] + " dup"
    for i in range(n_exact):
        texts[ids[2 * n_near + i]] = texts[ids[2 * n_near + n_exact + i]]
    doc_id = np.arange(n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(len(_LANGS), n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    emb = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    vecs = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    pq.write_table(vecs, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": n_docs, "embeddings": n_vecs}
