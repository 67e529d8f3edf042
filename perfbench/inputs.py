"""Seeded input generators.  Every file the program reads is written here,
from ``--seed`` alone; the same seed gives byte-identical inputs."""

from __future__ import annotations

import csv
import datetime as dt
import os
import random

import pandas as pd

# ---------------------------------------------------------------------------
# registry_mix: documents + events tables
# ---------------------------------------------------------------------------
_VOCAB = ("key agg row scan slow fast table value part hash merge batch "
          "spark the line sort window data column join small customer "
          "query order group stream filter big vector a of to in is it "
          "and for on with as by at from").split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_EVENT_TYPES = ("click", "view", "error", "purchase")


def documents(n: int, seed: int) -> pd.DataFrame:
    """doc_id/text/lang/source/n_chars; ~8% exact copies, ~12% near copies
    (one or two tokens changed), ~3% null texts — then a seeded row
    permutation, which no query answer depends on."""
    rng = random.Random(seed ^ 0xD0C5)
    texts: list[str | None] = []
    for i in range(n):
        r = rng.random()
        near = texts[i - 1 - rng.randrange(10)] if i > 10 else None
        if i > 10 and r < 0.08:
            texts.append(texts[rng.randrange(i)])
        elif near and r < 0.20:
            base = near.split()
            for _ in range(rng.randint(1, 2)):
                base[rng.randrange(len(base))] = rng.choice(_VOCAB)
            texts.append(" ".join(base))
        elif r < 0.23:
            texts.append(None)
        else:
            texts.append(" ".join(rng.choice(_VOCAB)
                                  for _ in range(rng.randint(20, 80))))
    rows = [{"doc_id": i, "text": t, "lang": rng.choice(_LANGS),
             "source": f"src{rng.randrange(8)}",
             "n_chars": len(t) if t is not None else None}
            for i, t in enumerate(texts)]
    rng.shuffle(rows)
    return pd.DataFrame(rows).astype({"n_chars": "Int64"})


def events(n: int, seed: int) -> pd.DataFrame:
    rng = random.Random(seed ^ 0xE7E7)
    ts = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(n):
        ts += dt.timedelta(microseconds=rng.randint(1, 400_000_000))
        drift = 1.0 + i / n        # the second half drifts upward
        value = (None if rng.random() < 0.01
                 else round(rng.lognormvariate(2.5, 0.8) * drift, 2))
        rows.append({"event_id": i, "ts": ts,
                     "user_id": rng.randrange(500),
                     "event_type": rng.choice(_EVENT_TYPES),
                     "value": value,
                     "props": f'{{"k": {rng.randrange(100)}}}'})
    rng.shuffle(rows)
    return pd.DataFrame(rows)


def write_tables(sf_dir: str, n_docs: int, n_events: int, seed: int) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    documents(n_docs, seed).to_parquet(f"{sf_dir}/documents.parquet",
                                       index=False)
    # Spark reads microsecond Parquet timestamps, not pandas' nanoseconds
    events(n_events, seed).to_parquet(f"{sf_dir}/events.parquet",
                                      index=False, coerce_timestamps="us")


# ---------------------------------------------------------------------------
# wide CSV with planted defects (traced registry_mix run)
# ---------------------------------------------------------------------------
def wide_csv(path: str, rows: int, seed: int) -> None:
    """110 mixed-type columns: 40 numeric (nulls, outliers, a constant and
    a zero-heavy column), 30 categorical (case-inconsistent labels, null
    tokens), 20 date (mixed formats, a future date), 20 text (an id
    column with a duplicate)."""
    rng = random.Random(seed ^ 0xC5F)
    cols = ([f"num{i}" for i in range(40)] + [f"cat{i}" for i in range(30)]
            + [f"dt{i}" for i in range(20)] + [f"txt{i}" for i in range(20)])
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(cols)
        for r in range(rows):
            row = []
            for i in range(40):
                x = rng.random()
                if i == 0:
                    row.append("7")
                elif i == 1:
                    row.append("0" if x < 0.6 else str(rng.randint(1, 9)))
                elif x < 0.03:
                    row.append("")
                elif x < 0.05:
                    row.append(f"{rng.uniform(1e5, 1e6):.2f}")
                else:
                    row.append(f"{rng.gauss(100 + i, 15):.2f}")
            for i in range(30):
                x = rng.random()
                row.append("N/A" if x < 0.02 else
                           rng.choice(("red", "green", "blue", "Red",
                                       "amber")))
            for i in range(20):
                d = dt.date(2023, 1, 1) + dt.timedelta(days=rng.randrange(700))
                x = rng.random()
                if x < 0.02:
                    row.append("2031-05-01")
                elif i % 5 == 0 and x < 0.2:
                    row.append(d.strftime("%d/%m/%Y"))
                else:
                    row.append(d.isoformat())
            for i in range(20):
                if i == 0:
                    row.append(f"ID-{r if r != 7 else 3:06d}")
                else:
                    row.append(" ".join(rng.choice(_VOCAB)
                                        for _ in range(rng.randint(1, 5))))
            w.writerow(row)
