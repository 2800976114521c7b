"""Driver-window invariants: the driver hash-verifies only the FIRST 50
``queries()`` entries, so the registry order is load-bearing — the window
is exactly those entries, every one has an oracle, and neither the
registry nor the window repeats a name. SURVEY §8's query citations and
star markers are checked against the live registry too."""

from __future__ import annotations

from ml_feature_store_pipeline_spark.harness import (
    DRIVER_WINDOW,
    oracle_registry,
    query_registry,
)


def test_window_is_exactly_the_first_50_entries():
    names = list(query_registry())
    assert len(DRIVER_WINDOW) == 50
    assert names[:50] == list(DRIVER_WINDOW)


def test_every_window_entry_has_an_oracle():
    oracles = oracle_registry()
    missing = [n for n in DRIVER_WINDOW if n not in oracles]
    assert missing == []


def test_every_oracle_has_a_query():
    queries = query_registry()
    orphans = [n for n in oracle_registry() if n not in queries]
    assert orphans == []


def test_registry_and_window_have_no_duplicates():
    assert len(set(DRIVER_WINDOW)) == len(DRIVER_WINDOW)
    names = list(query_registry())
    assert len(set(names)) == len(names)


def test_survey_section8_names_match_registry():
    """Every query name cited in SURVEY §8's queries() column must exist in
    the live registry (r2 verdict: `ml_minhash_pairs` had drifted)."""
    import re
    from pathlib import Path

    text = Path(__file__).resolve().parent.parent.joinpath("SURVEY.md").read_text()
    sec = text.split("## 8.")[1].split("\n## ")[0]
    names = set(query_registry())
    cited = []
    for line in sec.splitlines():
        cells = [c.strip() for c in line.split("|")]
        if len(cells) < 5 or cells[1] in ("family", "---"):
            continue
        for tok in re.findall(r"`([a-z0-9_]+)`", cells[4]):
            cited.append(tok)
    unknown = [t for t in cited if t not in names]
    assert cited and unknown == [], unknown


def test_survey_section8_star_markers_match_oracle_registry():
    """SURVEY §8 uses a trailing `*` to mark rows-only queries (no
    oracle_sql twin). r4 verdict item 3: the marker had drifted — queries
    kept their star after gaining bounded/hash oracles. Guard both
    directions against the live registry: a starred name must NOT have an
    oracle entry, and an oracle-less query must be starred."""
    import re
    from pathlib import Path

    from ml_feature_store_pipeline_spark.harness import oracle_registry

    text = Path(__file__).resolve().parent.parent.joinpath("SURVEY.md").read_text()
    sec = text.split("## 8.")[1].split("\n## ")[0]
    starred, cited = set(), set()
    for line in sec.splitlines():
        cells = [c.strip() for c in line.split("|")]
        if len(cells) < 5 or cells[1] in ("family", "---"):
            continue
        for m in re.finditer(r"`([a-z0-9_]+)`(\*?)", cells[4]):
            cited.add(m.group(1))
            if m.group(2):
                starred.add(m.group(1))
    oracles = set(oracle_registry())
    assert starred == (cited - oracles), (
        f"SURVEY §8 drift: starred-but-oracled {sorted(starred & oracles)}, "
        f"oracle-less-but-unstarred {sorted(cited - oracles - starred)}"
    )


def test_multimodal_decode_output_is_hashable(spark):
    """The round-1 driver crashed canonicalizing an array<float> column —
    the registry entry must emit only scalar columns."""
    from ml_feature_store_pipeline_spark.harness import query_registry

    fn = query_registry()["multimodal_decode"]
    df = fn(spark, "/root/testdata/sf0.001")
    bad = [f.name for f in df.schema.fields if f.dataType.typeName() in ("array", "map", "struct")]
    assert bad == []
