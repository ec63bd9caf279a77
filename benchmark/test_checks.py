"""Self-test of the benchmark's answer checks: every deliberately wrong
answer must be rejected and every documented tie accepted.

    python3 -m pytest benchmark/test_checks.py -q
"""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchmark import checks, gen  # noqa: E402

RANKING = [(3, 9.0), (1, 7.5), (8, 6.25), (2, 5.0), (4, 4.0), (6, 4.0), (9, 4.0), (0, 1.0)]


def test_exact_answer_passes():
    assert checks.check_ranked(RANKING[:4], RANKING, 4) is None


def test_swapped_rank_fails():
    got = [RANKING[1], RANKING[0]] + RANKING[2:4]
    assert checks.check_ranked(got, RANKING, 4) is not None


def test_score_off_by_1e6_relative_fails():
    got = list(RANKING[:4])
    got[2] = (got[2][0], got[2][1] * (1 + 1e-6))
    assert checks.check_ranked(got, RANKING, 4) is not None


def test_missing_and_extra_result_fail():
    assert checks.check_ranked(RANKING[:3], RANKING, 4) is not None
    assert checks.check_ranked(RANKING[:4] + [RANKING[7]], RANKING, 4) is not None
    assert checks.check_ranked(RANKING[:3] + [(5, 5.0)], RANKING, 4) is not None  # doc 5 matches nothing


def test_tie_at_k_boundary_with_other_member_passes():
    # docs 4, 6 and 9 tie at 4.0 across k=5: the oracle keeps 4, the program may keep 6 or 9
    assert checks.check_ranked(RANKING[:4] + [(6, 4.0)], RANKING, 5) is None
    assert checks.check_ranked(RANKING[:4] + [(9, 4.0)], RANKING, 5) is None


def test_interior_tie_by_ascending_doc_id_passes_and_reversed_fails():
    assert checks.check_ranked(RANKING[:6], RANKING, 6) is None
    swapped = RANKING[:4] + [(6, 4.0), (4, 4.0)]
    assert checks.check_ranked(swapped, RANKING, 6) is not None


def test_last_bit_tie_ordered_by_its_own_scores_passes():
    # the program's sums differ from the oracle's in the last bits, so its
    # own score order puts doc 6 first
    got = RANKING[:4] + [(6, math.nextafter(4.0, 5.0)), (4, 4.0)]
    assert checks.check_ranked(got, RANKING, 6) is None


def test_boolean_missing_hit_fails():
    assert checks.check_set({1, 2, 3}, {1, 2, 3}) is None
    assert checks.check_set({1, 2}, {1, 2, 3}) is not None
    assert checks.check_set({1, 2, 3, 4}, {1, 2, 3}) is not None


def test_one_changed_curation_row_fails():
    cols = ["doc_id", "score_r"]
    want = [(0, 0.5), (1, 0.25), (2, 0.125)]
    # the twin may order rows and columns differently
    twin = [(s, d) for d, s in reversed(want)]
    assert checks.check_table(want, cols, twin, ["score_r", "doc_id"]) is None
    changed = [(0, 0.5), (1, 0.2501), (2, 0.125)]
    assert checks.check_table(changed, cols, want, cols) is not None
    assert checks.check_table(want[:2], cols, want, cols) is not None
    assert checks.check_table(want, ["doc_id", "score"], want, cols) is not None


def test_curation_float_noise_below_9_places_passes():
    cols = ["a", "x"]
    assert checks.check_table([(1, 0.1 + 0.2)], cols, [(1, 0.3)], cols) is None


@pytest.fixture(scope="module")
def oracle_corpus():
    from searchengine_spark.oracle import build_oracle_index

    cols = gen.transcript_rows(5, n_turns=200, vocab=2_000)
    return cols, build_oracle_index((i, [t]) for i, t in enumerate(cols["text"]))


def test_oracle_ranking_round_trip(oracle_corpus):
    cols, oracle = oracle_corpus
    term = max(oracle.postings, key=lambda t: len(oracle.postings[t]))
    for mode in ("bm25", "tfidf"):
        ranking = oracle.rank(term, mode=mode)
        assert checks.check_ranked(ranking[:10], ranking, 10) is None
        i = next(i for i in range(9) if ranking[i][1] != ranking[i + 1][1])
        swapped = ranking[:i] + [ranking[i + 1], ranking[i]] + ranking[i + 2 : 10]
        assert checks.check_ranked(swapped, ranking, 10) is not None


def test_manifest_counts(oracle_corpus):
    _, oracle = oracle_corpus
    metrics = {
        "n_docs": oracle.n_docs,
        "total_tokens": oracle.total_tokens,
        "n_postings": sum(len(p) for p in oracle.postings.values()),
        "avgdl": oracle.avgdl,
    }
    assert checks.check_manifest(metrics, oracle) is None
    assert checks.check_manifest({**metrics, "n_postings": metrics["n_postings"] - 1}, oracle) is not None


def test_generators_are_seeded():
    assert gen.transcript_rows(3, 50, 1000) == gen.transcript_rows(3, 50, 1000)
    assert gen.transcript_rows(3, 50, 1000) != gen.transcript_rows(4, 50, 1000)
    assert gen.documents_rows(3, 40) == gen.documents_rows(3, 40)
