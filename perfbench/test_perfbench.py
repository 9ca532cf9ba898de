"""Self-tests of the benchmark's pure parts; no Spark session needed.

    python3 -m pytest -q perfbench
"""

import collections
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import reqgen  # noqa: E402
import summary  # noqa: E402
from run import N_TURNS, TURNS_PER_CONV  # noqa: E402
from spans import self_times  # noqa: E402

from solrplugins_spark.corpus import PLANTS, transcripts_pandas  # noqa: E402


@pytest.fixture(scope="module")
def turns():
    return transcripts_pandas(N_TURNS, TURNS_PER_CONV)


def test_doc_id_formula_is_the_row_order(turns):
    # run.py numbers the corpus from conv_id and turn_idx; that must be
    # the (conv_id, turn_idx) order mint_doc_ids gives
    conv = turns["conv_id"].str[4:].astype(int)
    assert list(conv * TURNS_PER_CONV + turns["turn_idx"]) == list(range(N_TURNS))
    keys = list(zip(turns["conv_id"], turns["turn_idx"]))
    assert keys == sorted(keys)


@pytest.fixture(scope="module")
def corpus(turns):
    """The benchmark's corpus and its term dictionary, built driver-side
    with the engine's token grammar."""
    df = collections.Counter()
    for text in turns["text"]:
        df.update(set(reqgen.tokens(text)))
    docs = list(zip(range(len(turns)), turns["text"]))
    return dict(df), docs


@pytest.mark.parametrize("workload", sorted(reqgen.WORKLOAD_KINDS))
def test_same_seed_same_digest_other_seed_other_digest(corpus, workload):
    dictionary, docs = corpus
    pool = lambda seed: reqgen.make_pool(workload, seed, dictionary, docs, PLANTS)  # noqa: E731
    assert reqgen.digest(pool(1)) == reqgen.digest(pool(1))
    assert reqgen.digest(pool(1)) != reqgen.digest(pool(2))


@pytest.mark.parametrize("workload", sorted(reqgen.WORKLOAD_KINDS))
@pytest.mark.parametrize("seed", range(5))
def test_every_term_is_in_the_dictionary(corpus, workload, seed):
    dictionary, docs = corpus
    pool = reqgen.make_pool(workload, seed, dictionary, docs, PLANTS)
    assert sorted(r["kind"] for r in pool) == sorted(reqgen.WORKLOAD_KINDS[workload])
    terms = [t for r in pool for t in reqgen.request_terms(r)]
    assert terms and all(t in dictionary for t in terms)


def test_both_tiers_serve_the_same_packed_requests(corpus):
    dictionary, docs = corpus
    local, spark = (
        {
            r["kind"]: r["args"]
            for r in reqgen.make_pool(w, 7, dictionary, docs, PLANTS)
            if r["kind"] in reqgen.PACKED_KINDS
        }
        for w in ("serve_local", "serve_spark")
    )
    assert set(local) == set(reqgen.PACKED_KINDS)
    assert set(spark) == set(reqgen.PACKED_KINDS) - set(reqgen.SPARK_SKIPS)
    assert all(spark[k] == local[k] for k in spark)


@pytest.mark.parametrize("seed", range(5))
def test_deletes_name_corpus_doc_ids(corpus, seed):
    dictionary, docs = corpus
    pool = reqgen.make_pool("serve_local", seed, dictionary, docs, PLANTS)
    (req,) = [r for r in pool if r["kind"] == "delete_ids"]
    assert len(req["args"]["ids"]) == reqgen.N_DELETE_RANDOM
    assert set(req["args"]["ids"]) <= {d for d, _ in docs}


def test_bands_are_stratified_by_df(corpus):
    dictionary, _ = corpus
    b = reqgen.bands(dictionary, PLANTS)
    assert set(PLANTS) <= set(b["tail"])
    assert min(dictionary[t] for t in b["head"]) > max(dictionary[t] for t in b["mid"])
    assert min(dictionary[t] for t in b["mid"]) > max(
        dictionary[t] for t in b["tail"] if t not in PLANTS
    )


def test_tail_has_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples
    assert summary.tail(xs) == (90, 90.0, 10)
    assert summary.tail(list(range(1, 201))) == (190, 95.0, 10)
    # the basis fixes the percentile; every sample is still used
    value, p, beyond = summary.tail(list(range(1, 201)), basis=100)
    assert (p, value, beyond) == (90.0, 180, 20)
    assert summary.tail(list(range(1, 22))) == (11, 50.0, 10)
    assert summary.tail([5.0, 7.0]) == (7.0, 100.0, 0)


def test_median():
    assert summary.median([3, 1, 2]) == 2
    assert summary.median([4, 1, 2, 3]) == 2.5


def test_steal_frac(tmp_path):
    stat = tmp_path / "stat"
    stat.write_text("cpu  100 0 50 800 10 0 0 40 0 0\ncpu0 1 2 3\n")
    before = summary.read_cpu_times(str(stat))
    stat.write_text("cpu  200 0 100 1600 20 0 0 80 0 0\n")
    after = summary.read_cpu_times(str(stat))
    assert before == (40, 1000)
    assert summary.steal_frac(before, after) == pytest.approx(0.04)
    assert summary.read_cpu_times(str(tmp_path / "missing")) is None
    assert summary.steal_frac(None, after) == 0.0


def test_self_time_subtracts_covered_children():
    spans = [
        ["root", 0.0, 10.0, None, 0],
        ["a", 1.0, 4.0, 0, 0],
        ["b", 3.0, 6.0, 0, 0],  # overlaps a: covered is [1, 6]
        ["c", 2.0, 3.0, 1, 0],
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0])
