"""Deterministic fixture generators (FIXTURES.md §B, seed=42).

Generates the primary pipeline input (`transcripts`, schema = the driver's
input_hint in BASELINE.json:15) plus `gazetteer` and `entity_embeddings`.
Everything is a pure function of (seed, size); byte-stable across runs.
Skew is planted on purpose (hot conversations with 100-500x median turns,
hot entities in a large fraction of turns) so the salting / AQE-skew paths
are actually exercised (SURVEY.md §7 hard-part 5).

No external data: all vocabularies are synthetic, with deliberate UTF-8
multibyte content (accents, CJK, emoji) to make the byte-identity invariant
non-trivial.
"""

from __future__ import annotations

import json
import os
import unicodedata

import numpy as np
import pandas as pd

from ner_spark import spec

# fixtures live in the data/ directory of the checkout this module is in,
# so a copy of the repo reads and writes its own. A driver that imports
# this module from a --py-files zip has no checkout around it and uses the
# data/ of its working directory (jobs are submitted from the repo root).
_CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_ROOT = os.path.join(
    _CHECKOUT if os.path.isdir(_CHECKOUT) else os.getcwd(), "data"
)

# ---------------------------------------------------------------------------
# Vocabularies (synthetic; unicode on purpose)
# ---------------------------------------------------------------------------
FIRST = (
    "Anna Joerg José Zoë François Mei Lars Priya Omar Ingrid Pablo Sofía "
    "Yuki Dmitri Aisha Chen Nadia Marco Elif Björn Søren Amélie Kofi Ravi "
    "Lucía Hana Tariq Agnès Milan Freya Diego Noor Petra Ciarán Leila Oskar "
    "Carmen Hugo Alba Jonas Irène Matteo Saoirse Anouk Tomás Eszter Niamh "
    "Rune Vera Imre Selma Bastien Greta Yusuf Od 李雷 Жанна Παύλος Célia Åse"
).split()
LAST = (
    "Müller Alvarez Okafor Tanaka Novák Silva Johansson Dubois Rossi Çelik "
    "Kowalski Ivanov Haddad Nguyen Fischer Moreau Šimek Costa Berg Laine "
    "Farkas Petrov Santos Keller Fontaine Jiménez Larsen Weiß Horváth Mendes "
    "Olsen Varga Lindqvist Dupont Ricci Aydın Mazur Sokolov Nasser Tran "
    "Schäfer Girard Bianchi Öztürk Wójcik Orlov Khalil Phạm Krüger Lefèvre "
    "Conti Demir Nowak Volkov Amin Lê Schröder Roux Greco Kaya Zieliński "
    "Smirnov Rahim Đặng Böhm Fabre Marino Şahin Król Titov Saleh Hồ Vogel "
    "Perrin Russo Doğan Lis Sidorov Karim Vũ Braun Leroy Ferrara Aksoy "
    "Urban Pavlov Hamid Đỗ Hofmann"
).split()
LOC_A = (
    "New Port Lake East West North South Old Grand Little Upper Lower Fort "
    "Mont Saint Santa San São Bad Kirk Stor Vel Nord Alt Groß Kara Ulan "
    "Nova Petit"
).split()
LOC_B = (
    "haven ville burg stadt grad pur abad holm köping bourg førde vik dal "
    "berg feld brücke møre sund næs ås by minster chester field ford ham "
    "mouth bridge cliff shore mesa pampa sierra café 北 湖 川 山 érd ózd "
    "escu owo ámo õla üla ný wald见 港 庄 ç-sur-mer"
).split()
ORG_A = (
    "Acme Globex Initech Umbra Vortex Zenith Apex Nimbus Quanta Hélios "
    "Borealis Kvant Sakura Lumière Ångström Æther Solaris Drakkar Koyo "
    "Meridian Obsidian Polaris Rhea Syzygy Tessera Ural Vanta Wyvern Xylo "
    "Yonder Zephyr Altai Biscay Cassiopée Delphi Eiger Fjord 银河 Grímur Hōryū"
).split()
ORG_B = (
    "Systems Corp Labs Industries Dynamics Analytics Logistics Robotics "
    "Holdings Ventures Partners Foundry Networks Biotech Energéticos Werke "
    "Maskiner Solutions Capital Aerospace Farmacéutica Institut Kollektiv "
    "Studio Group Média Consulting Manufactura Digital 研究所 Atelier "
    "Verbund Teknik Laboratoire Samfund Industri Kombinat Økonomi Softworks "
    "Güvenlik"
).split()
MISC_A = (
    "Winter Summer Solar Lunar Quantum Copper Crimson Golden Jade Obsidian "
    "Silent Rapid Global Arctic Boreal Cosmic Delta Echo Fábula Glacial "
    "Harvest Iron Kinetic Lumen Mistral"
).split()
MISC_B = (
    "Expo Summit Accord Protocol Prize Marathon Festival Initiative Index "
    "Charter Treaty Regatta Sympósio Biennale Congress Derby Gala Forum "
    "Olympiad Pact Rally Séminaire Tournament Vernissage 祭り"
).split()
TOPICS = (
    "quantum football sailing archaeology jazz volcanoes céramique chess "
    "robotics cuisine 量子 astronomy poetry cycling opera genomics skiing "
    "typografie manga calligraphie surfing mycology cartography falconry "
    "origami numismatics beekeeping kayak 書道 fermentation horology "
    "linguistics topology speleology bonsai aïkido tango glassblowing "
    "meteorology paleontology cryptographie ornithology viticulture "
    "marathon shogi ballet alpinisme photographie economics history"
).split()
TOOLS = ["search", "lookup", "calendar", "translate", "db_query", "geo"]
FILLERS = [
    "Honestly the weather this spring is très agréable, n'est-ce pas?",
    "Let me think about that for a second… ok 👍",
    "That reminds me of an old proverb: 塞翁失马，焉知非福.",
    "No idea — could you rephrase the question?",
    "Интересно, but I'd double-check the numbers first.",
    "Sounds good!! Let's circle back tomorrow 🚀.",
]

TYPE_SHARES = {"PER": 0.40, "LOC": 0.25, "ORG": 0.25, "MISC": 0.10}


def _strip_diacritics(s: str) -> str:
    d = unicodedata.normalize("NFD", s)
    return "".join(c for c in d if not unicodedata.combining(c))


def _combo_names(rng: np.random.Generator, a: list[str], b: list[str], n: int, sep: str) -> list[str]:
    idx = rng.permutation(len(a) * len(b))[:n]
    return [f"{a[i // len(b)]}{sep}{b[i % len(b)]}" for i in idx]


# ---------------------------------------------------------------------------
# Entity catalog / gazetteer / embeddings
# ---------------------------------------------------------------------------
def entity_catalog(seed: int = 42, n_entities: int = 5000) -> pd.DataFrame:
    """entity_id, canonical_name, ner_type, topics(list[str]), hot(bool)."""
    rng = np.random.default_rng(seed)
    counts = {t: int(round(n_entities * s)) for t, s in TYPE_SHARES.items()}
    counts["PER"] += n_entities - sum(counts.values())
    rows: list[tuple[str, str]] = []
    rows += [(n, "PER") for n in _combo_names(rng, FIRST, LAST, counts["PER"], " ")]
    rows += [(n, "LOC") for n in _combo_names(rng, LOC_A, LOC_B, counts["LOC"], " ")]
    rows += [(n, "ORG") for n in _combo_names(rng, ORG_A, ORG_B, counts["ORG"], " ")]
    rows += [(n, "MISC") for n in _combo_names(rng, MISC_A, MISC_B, counts["MISC"], " ")]
    topics = rng.integers(0, len(TOPICS), size=(len(rows), 2))
    hot = np.zeros(len(rows), dtype=bool)
    hot[rng.permutation(len(rows))[:10]] = True
    return pd.DataFrame(
        {
            "entity_id": [f"e{i:06d}" for i in range(len(rows))],
            "canonical_name": [r[0] for r in rows],
            "ner_type": [r[1] for r in rows],
            "topics": [[TOPICS[a], TOPICS[b]] for a, b in topics],
            "hot": hot,
        }
    )


def gazetteer_df(cat: pd.DataFrame, seed: int = 42) -> pd.DataFrame:
    """entity_id, canonical_name, surface_form, ner_type — multiple surfaces
    per entity; PER last-name aliases are deliberately ambiguous across
    entities sharing a last name (embedding disambiguation fixture)."""
    rng = np.random.default_rng(seed + 1)
    rows = []
    for eid, name, typ in zip(cat.entity_id, cat.canonical_name, cat.ner_type):
        surfaces = {name}
        if typ == "PER" and " " in name and rng.random() < 0.5:
            surfaces.add(name.split(" ", 1)[1])  # last-name alias (ambiguous)
        stripped = _strip_diacritics(name)
        if stripped != name and rng.random() < 0.5:
            surfaces.add(stripped)
        for s in sorted(surfaces):
            rows.append((eid, name, s, typ))
    return pd.DataFrame(rows, columns=["entity_id", "canonical_name", "surface_form", "ner_type"])


def entity_embeddings_df(cat: pd.DataFrame) -> pd.DataFrame:
    """entity_id, embedding array<float32>[EMB_DIM] — hash-trick embedding of
    canonical-name tokens + topic words (spec.emb_index_sign), unit-norm."""
    out = np.zeros((len(cat), spec.EMB_DIM), dtype=np.float64)
    for r, (name, topics) in enumerate(zip(cat.canonical_name, cat.topics)):
        toks = spec.TOKEN_RE.findall(name.casefold()) + [t.casefold() for t in topics]
        for tok in toks:
            i, sgn = spec.emb_index_sign(spec.fnv1a(tok))
            out[r, i] += sgn
        n = np.linalg.norm(out[r])
        if n > 0:
            out[r] /= n
    return pd.DataFrame(
        {"entity_id": cat.entity_id, "embedding": [v.astype(np.float32) for v in out]}
    )


# ---------------------------------------------------------------------------
# Transcripts
# ---------------------------------------------------------------------------
SIZES = {
    # n_convs, median_turns, n_hot, hot_turns
    "tiny": dict(n_convs=40, median_turns=6, n_hot=1, hot_turns=60),
    "small": dict(n_convs=200, median_turns=8, n_hot=1, hot_turns=400),
    "eval": dict(n_convs=2000, median_turns=8, n_hot=4, hot_turns=2000),
    "bench": dict(n_convs=100_000, median_turns=8, n_hot=100, hot_turns=2000),
    # scaling-efficiency runs: large enough (~4M / ~7M turns) that parallel
    # compute dominates the ~35s of fixed per-stage cost (job scheduling,
    # commits, CC convergence actions) at the 4N parallelism level
    "scale": dict(n_convs=400_000, median_turns=8, n_hot=200, hot_turns=2000),
    "scale2": dict(n_convs=800_000, median_turns=8, n_hot=400, hot_turns=2000),
    # ~14.6M turns: the scaling-efficiency input of record — at the
    # north rule's 10^12-turn production scale the ~45s fixed per-job
    # cost (JVM + stage commits + CC convergence actions) is noise, so
    # the efficiency estimate improves monotonically with input size;
    # scale3 is the largest input whose 2-core leg still fits a
    # min-of-2 protocol in sandbox wall-clock
    "scale3": dict(n_convs=1_600_000, median_turns=8, n_hot=800, hot_turns=2000),
}

_REL_BY_TYPES = [
    ("works at", "PER", "ORG"),
    ("lives in", "PER", "LOC"),
    ("visited", "PER", "LOC"),
    ("is based in", "ORG", "LOC"),
    ("met", "PER", "PER"),
]


def transcripts_df(
    cat: pd.DataFrame,
    seed: int = 42,
    n_convs: int = 200,
    median_turns: int = 8,
    n_hot: int = 1,
    hot_turns: int = 400,
    convs_per_hour: int = 1,
) -> pd.DataFrame:
    """Schema per BASELINE.json input_hint:
    (conv_id string, turn_idx int32, role string, text string,
     tool string|null, ts timestamp). Rows are written in shuffled order
    (late-data realism); consumers must sort by (conv_id, turn_idx).

    ``convs_per_hour`` sets the event-time density: the default 1 is the
    historical fixture artifact (one conversation per hour — a 64k-turn
    corpus spans ~8000 hour buckets, pathological for days(ts) layouts);
    raise it to emulate production density (e.g. 42 ≈ 10^3
    conversations per day-dir) for layout-sensitive profiles."""
    rng = np.random.default_rng(seed + 2)
    by_type = {t: cat.index[cat.ner_type == t].to_numpy() for t in spec.NER_TYPES}
    hot_idx = cat.index[cat.hot].to_numpy()
    names = cat.canonical_name.to_numpy()
    topics = cat.topics.to_numpy()
    # PER last-name ambiguous aliases with their true entity rows
    per = cat[cat.ner_type == "PER"]
    last = per.canonical_name.str.split(" ", n=1).str[1]
    amb_rows = per.index[last.duplicated(keep=False)].to_numpy()
    amb_alias = last[last.duplicated(keep=False)].to_numpy()

    turns_per_conv = np.maximum(
        2, rng.geometric(1.0 / median_turns, size=n_convs)
    ).astype(np.int64)
    hot_convs = rng.permutation(n_convs)[:n_hot]
    turns_per_conv[hot_convs] = hot_turns
    total = int(turns_per_conv.sum())

    conv_no = np.repeat(np.arange(n_convs), turns_per_conv)
    turn_idx = np.concatenate([np.arange(n) for n in turns_per_conv]).astype(np.int32)
    is_tool = (turn_idx % 7 == 5) & (turn_idx > 0)
    role = np.where(is_tool, "tool", np.where(turn_idx % 2 == 0, "user", "assistant"))

    # pre-draw randomness in bulk
    tmpl = rng.integers(0, 100, size=total)
    rel_pick = rng.integers(0, len(_REL_BY_TYPES), size=total)
    ent_a = rng.integers(0, 1 << 30, size=total)
    ent_b = rng.integers(0, 1 << 30, size=total)
    hot_pick = rng.integers(0, len(hot_idx), size=total)
    amb_pick = rng.integers(0, max(1, len(amb_rows)), size=total)
    filler_pick = rng.integers(0, len(FILLERS), size=total)
    tool_pick = rng.integers(0, len(TOOLS), size=total)
    topic_side = rng.integers(0, 2, size=total)

    texts: list[str] = []
    tools: list[str | None] = []
    for k in range(total):
        if is_tool[k]:
            tname = TOOLS[tool_pick[k]]
            ent = names[by_type["PER" if k % 2 else "ORG"][ent_a[k] % len(by_type["PER" if k % 2 else "ORG"])]]
            texts.append(
                json.dumps(
                    {"tool": tname, "args": {"entity": ent}, "result": "ok"},
                    ensure_ascii=False,
                )
            )
            tools.append(tname)
            continue
        tools.append(None)
        t = tmpl[k]
        if t < 30:  # relation sentence → P_REL triple
            phrase, ta, tb = _REL_BY_TYPES[rel_pick[k]]
            a = by_type[ta][ent_a[k] % len(by_type[ta])]
            b = by_type[tb][ent_b[k] % len(by_type[tb])]
            if a == b:
                b = by_type[tb][(ent_b[k] + 1) % len(by_type[tb])]
            texts.append(f"Guess what — {names[a]} {phrase} {names[b]}.")
        elif t < 50:  # co-occurrence sentence
            a = by_type["PER"][ent_a[k] % len(by_type["PER"])]
            b = by_type["ORG"][ent_b[k] % len(by_type["ORG"])]
            texts.append(f"Did {names[a]} and {names[b]} really team up? 🚀")
        elif t < 65 and len(amb_rows):  # ambiguous alias + topic word
            r = amb_rows[amb_pick[k]]
            texts.append(
                f"I talked to {amb_alias[amb_pick[k]]} about {topics[r][topic_side[k]]} yesterday."
            )
        elif t < 80:  # hot entity (skew fixture)
            h = hot_idx[hot_pick[k]]
            texts.append(f"Everyone keeps asking about {names[h]} these days.")
        else:
            texts.append(FILLERS[filler_pick[k]])

    base = np.datetime64("2026-01-01T00:00:00")
    ts = (
        base
        + (conv_no // convs_per_hour).astype("timedelta64[h]")
        + turn_idx.astype("timedelta64[s]")
    )
    df = pd.DataFrame(
        {
            "conv_id": np.char.add("c", np.char.zfill(conv_no.astype(str), 8)),
            "turn_idx": turn_idx,
            "role": role,
            "text": texts,
            "tool": tools,
            "ts": ts.astype("datetime64[us]"),
        }
    )
    # late-data realism: shuffle row order deterministically
    return df.iloc[rng.permutation(total)].reset_index(drop=True)


# ---------------------------------------------------------------------------
# Materialization
# ---------------------------------------------------------------------------
def materialize(out_dir: str, size: str = "small", seed: int = 42) -> dict[str, str]:
    """Write transcripts/gazetteer/entity_embeddings parquet into out_dir.

    Large transcript fixtures are written as a DIRECTORY of 32 part files:
    a single big parquet file caps Spark's scan (and the shuffle-write
    feeding the pipeline's first repartition) at file-split granularity —
    at 4M turns that serialized the whole first stage onto ~6 tasks."""
    os.makedirs(out_dir, exist_ok=True)
    cat = entity_catalog(seed)
    paths = {}
    for name, df in (
        ("gazetteer", gazetteer_df(cat, seed)),
        ("entity_embeddings", entity_embeddings_df(cat)),
        ("transcripts", transcripts_df(cat, seed, **SIZES[size])),
    ):
        p = os.path.join(out_dir, f"{name}.parquet")
        if name == "transcripts" and len(df) > 200_000:
            os.makedirs(p, exist_ok=True)
            for i, chunk in enumerate(np.array_split(df, 32)):
                chunk.to_parquet(
                    os.path.join(p, f"part-{i:03d}.parquet"), index=False
                )
        else:
            df.to_parquet(p, index=False)
        paths[name] = p
    return paths


def ensure_stream_dir(size: str, root: str = DATA_ROOT, n_files: int = 4) -> str:
    """Transcripts-only directory split into n_files parquet parts — the
    file-stream source needs a directory, and several files exercise
    multi-micro-batch processing (maxFilesPerTrigger)."""
    d = ensure_fixture_dir(size, root)
    sd = os.path.join(d, "stream")
    if not os.path.exists(os.path.join(sd, f"part-{n_files - 1:03d}.parquet")):
        os.makedirs(sd, exist_ok=True)
        df = pd.read_parquet(os.path.join(d, "transcripts.parquet"))
        for i, chunk in enumerate(np.array_split(df, n_files)):
            chunk.to_parquet(os.path.join(sd, f"part-{i:03d}.parquet"), index=False)
    return sd


def ensure_fixture_dir(size: str, root: str = DATA_ROOT) -> str:
    """Idempotent materialize-on-demand; returns the directory."""
    d = os.path.join(root, size)
    if not all(
        os.path.exists(os.path.join(d, f"{n}.parquet"))
        for n in ("gazetteer", "entity_embeddings", "transcripts")
    ):
        materialize(d, size)
    return d


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--size", default="small", choices=sorted(SIZES))
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    out = a.out or os.path.join(DATA_ROOT, a.size)
    print(materialize(out, a.size))
