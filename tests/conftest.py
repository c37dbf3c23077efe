import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from gazetteer_entity_parser_spark.session import build_session

    session = build_session(
        "gazetteer-kg-tests",
        parallelism=4,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield session
    session.stop()


SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


def _pair_oracle(mention_rows, canonical=False):
    """Co-occurrence triples over collected mention rows, in pure Python and
    independent of the package's pair expansions: group by (url, sent_idx),
    sort by tok_idx, emit every (earlier, later) pair as a raw triple; with
    ``canonical`` roll them up to (weight, min subj_rank, min obj_rank)."""
    windows = {}
    for r in mention_rows:
        windows.setdefault((r["url"], r["sent_idx"]), []).append(r)
    raw = []
    for (url, sent_idx), ms in windows.items():
        ms.sort(key=lambda m: m["tok_idx"])
        for i, s in enumerate(ms):
            for o in ms[i + 1:]:
                raw.append((s["resolved"], "co_occurs_with", o["resolved"], url,
                            sent_idx, s["rank"], o["rank"]))
    if not canonical:
        return sorted(raw)
    agg = {}
    for subj, pred, obj, _, _, s_rank, o_rank in raw:
        w, sr, orank = agg.get((subj, pred, obj), (0, s_rank, o_rank))
        agg[(subj, pred, obj)] = (w + 1, min(sr, s_rank), min(orank, o_rank))
    return sorted(k + v for k, v in agg.items())


@pytest.fixture(scope="session")
def pair_oracle():
    return _pair_oracle
