"""Generator determinism and the shape properties the workloads rely on."""

from perfbench import gen
from mopper_spark.pipeline.linking import normalize_surface_py


def test_default_corpus_same_seed_same_hash():
    a = gen.default_corpus(7, n_turns=2000)
    b = gen.default_corpus(7, n_turns=2000)
    assert gen.corpus_hash(a) == gen.corpus_hash(b)


def test_default_corpus_other_seed_other_hash():
    a = gen.default_corpus(7, n_turns=2000)
    b = gen.default_corpus(8, n_turns=2000)
    assert gen.corpus_hash(a) != gen.corpus_hash(b)


def test_entity_corpus_seeded():
    a = gen.entity_corpus(3, n_turns=2000, n_entities=300)
    b = gen.entity_corpus(3, n_turns=2000, n_entities=300)
    c = gen.entity_corpus(4, n_turns=2000, n_entities=300)
    assert gen.corpus_hash(a) == gen.corpus_hash(b)
    assert gen.corpus_hash(a) != gen.corpus_hash(c)
    assert a.gold == b.gold


def test_default_corpus_shape():
    c = gen.default_corpus(1, n_turns=5000)
    convs = [row[0] for row in c.rows]
    assert convs.count("conv_00000") == int(5000 * 0.12)
    assert len(set(convs)) == 50
    assert {row[6] for row in c.rows} == {f for f, _ in gen.DEFAULT_FORMS}
    # tool is set exactly on tool turns
    assert all((row[4] is not None) == (row[2] == "tool") for row in c.rows)


def test_entity_names_unique_per_gold_id():
    """No normalized form or initial variant is shared by two entities, so
    pairwise precision/recall against gold is well defined."""
    c = gen.entity_corpus(5, n_turns=20_000, n_entities=2000)
    owner: dict[str, int] = {}
    for form, gold_id in c.gold.items():
        norm = normalize_surface_py(form)
        assert owner.setdefault(norm, gold_id) == gold_id, form
    # every mention's surface carries its gold id
    assert all(row[6] in c.gold for row in c.rows)


def test_entity_variants():
    import random

    (variants,) = gen.vocabulary(random.Random(0), 1)
    canonical, initial, middle, upper, accented, lower = variants
    first, last = canonical.split()
    assert initial == f"{first[0]}. {last}"
    assert middle.startswith(f"{first} ") and middle.endswith(f". {last}")
    assert upper == canonical.upper() and lower == canonical.lower()
    assert accented != canonical
    assert {normalize_surface_py(v) for v in (canonical, upper, accented, lower)} == {
        normalize_surface_py(canonical)
    }
