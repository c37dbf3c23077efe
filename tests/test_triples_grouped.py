"""The grouped pair expansion must be row-identical to a pure-Python pair
oracle (both raw and canonicalized), and the fused partials to the grouped
expansion — they are the two pair expansions the pipeline, the stream and
the queries rely on."""

import pytest

from gazetteer_entity_parser_spark.operators.extract import extract_mentions
from gazetteer_entity_parser_spark.operators.triples import (
    canonicalize_triples,
    cooccurrence_triples_grouped,
)
from gazetteer_entity_parser_spark.sources.builder_job import (
    broadcast_parser,
    build_parser_distributed,
)
from gazetteer_entity_parser_spark.sources.gazetteer import alias_gazetteer
from gazetteer_entity_parser_spark.plans.pipeline import docs_from_sf_dir

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def mentions(spark):
    docs = docs_from_sf_dir(spark, SF).limit(80)
    gaz = alias_gazetteer(docs.select("text"), 30)
    bc = broadcast_parser(
        spark,
        build_parser_distributed(gaz, threshold=0.6, n_stop_words=2),
    )
    return extract_mentions(docs, bc, window_tokens=7).cache()


def test_grouped_equals_pair_oracle_raw(spark, mentions, pair_oracle):
    a = pair_oracle(mentions.collect())
    b = sorted(map(tuple, cooccurrence_triples_grouped(mentions).collect()))
    assert a == b
    assert len(a) > 0


def test_grouped_equals_pair_oracle_canonical(spark, mentions, pair_oracle):
    a = pair_oracle(mentions.collect(), canonical=True)
    b = sorted(
        map(tuple, canonicalize_triples(cooccurrence_triples_grouped(mentions)).collect())
    )
    assert a == b
    assert len(a) > 0


def test_fused_equals_unfused_canonical(spark):
    from gazetteer_entity_parser_spark.operators.extract import canonical_triples_fused

    docs = docs_from_sf_dir(spark, SF).limit(80)
    gaz = alias_gazetteer(docs.select("text"), 30)
    bc = broadcast_parser(
        spark, build_parser_distributed(gaz, threshold=0.6, n_stop_words=2)
    )
    unfused = canonicalize_triples(
        cooccurrence_triples_grouped(extract_mentions(docs, bc, window_tokens=7))
    )
    fused = canonical_triples_fused(docs, bc, window_tokens=7)
    a = sorted(map(tuple, unfused.collect()))
    b = sorted(map(tuple, fused.collect()))
    assert a == b
    assert len(a) > 0


def test_merge_canonical_triples_equals_full_rebuild(spark, mentions):
    """Distributivity: split-build-merge == from-scratch rebuild, for an
    arbitrary disjoint split (url crc32 parity AND a 3-way token split)."""
    from pyspark.sql import functions as F

    from gazetteer_entity_parser_spark.operators.triples import (
        canonicalize_triples,
        cooccurrence_triples_grouped,
        merge_canonical_triples,
    )

    full = {
        tuple(r)
        for r in canonicalize_triples(
            cooccurrence_triples_grouped(mentions)
        ).collect()
    }
    for n_parts in (2, 3):
        key = F.pmod(F.crc32(F.col("url")), F.lit(n_parts))
        parts = [
            canonicalize_triples(
                cooccurrence_triples_grouped(mentions.where(key == i))
            )
            for i in range(n_parts)
        ]
        merged = {tuple(r) for r in merge_canonical_triples(*parts).collect()}
        assert merged == full, n_parts


def test_merge_canonical_triples_requires_input():
    import pytest

    from gazetteer_entity_parser_spark.operators.triples import (
        merge_canonical_triples,
    )

    with pytest.raises(ValueError, match="at least one"):
        merge_canonical_triples()
