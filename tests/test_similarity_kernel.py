"""The similarity family's shared top-k kernel (llmdata/similarity.py):
the numpy cell block and its pre-selection against brute force, the
guard that keeps the kernel spelled in one place, and the release of
everything the IVF indexes persist."""

import ast
import gc
import pathlib
import time
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pytest

from databricks_incremental_lakehouse_spark.llmdata import similarity as S


def _round6(x: float) -> Decimal:
    """The JVM grid: double -> decimal(38,10) -> 6 dp, both half-up."""
    d = Decimal(repr(x)).quantize(Decimal("1e-10"), rounding=ROUND_HALF_UP)
    return d.quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)


def _cosine(a, b) -> float:
    """Pure-Python cosine, independent of the kernel's BLAS path."""
    dot = sum(x * y for x, y in zip(a, b))
    na = sum(x * x for x in a) ** 0.5
    nb = sum(y * y for y in b) ** 0.5
    return dot / (na * nb)


def _group(seed: int, n: int = 40, dim: int = 6) -> pd.DataFrame:
    """A random cell group (shuffled ids) with forced ties: a few vectors
    are stored two or three times under different ids, so whole groups of
    candidates score exactly the same cosine, and a few are stored again
    nudged by ~1e-9, so their cosines tie on the 6-dp grid while their raw
    order can disagree with the id order the JVM rank breaks ties by."""
    rng = np.random.default_rng(seed)
    V = rng.standard_normal((n, dim))
    for src, dst in ((0, 1), (0, 2), (3, 4), (5, 6), (5, 7), (8, 9)):
        V[dst] = V[src]
    for src, dst in ((10, 11), (10, 12), (13, 14), (15, 16), (15, 17)):
        V[dst] = V[src] + 1e-9 * rng.standard_normal(dim)
    ids = rng.permutation(n * 3)[:n].astype(np.int64)
    return pd.DataFrame(
        {
            "vec_id": ids,
            "v": list(V),
            "label": rng.integers(0, 3, n).astype(np.int32),
            "crank": rng.integers(1, 3, n).astype(np.int32),
        }
    )


def _brute_topk(pdf, allowed, k):
    """Per row, the ``k`` best allowed columns by rounded cosine (lower id
    first on ties): the (row id, column id) pairs the JVM rank keeps."""
    ids = pdf["vec_id"].to_numpy()
    vecs = [list(v) for v in pdf["v"]]
    want = set()
    for i in range(len(ids)):
        cands = sorted(
            (-_round6(_cosine(vecs[i], vecs[j])), ids[j])
            for j in range(len(ids))
            if allowed(i, j)
        )
        want |= {(ids[i], j_id) for _c, j_id in cands[:k]}
    return want


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("mode", ["all_threshold", "members_kth", "mask_kth"])
def test_block_survivors_cover_brute_force(mode, seed):
    """The kernel's survivors are a superset of the brute-force answer over
    half-up 6-dp-rounded cosines — the claim the cell kernels rest on:
    all x all with a threshold (SemDeDup), all x members with the k-th
    with slack (k-NN graph), and all x all with a mask (hard negatives)."""
    pdf = _group(seed).sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    k = 3
    if mode == "all_threshold":
        _ids, _mem, Sm = S._block(pdf)
        iu, ju = np.nonzero(np.triu(Sm >= 0.35 - 1e-6, 1))
        got = set(zip(ids[iu], ids[ju]))
        vecs = [list(v) for v in pdf["v"]]
        want = {
            (ids[i], ids[j])
            for i in range(len(ids))
            for j in range(i + 1, len(ids))
            if _round6(_cosine(vecs[i], vecs[j])) >= Decimal("0.35")
        }
        assert want, "the threshold must bind"
    elif mode == "members_kth":
        members = pdf["crank"].to_numpy() == 1
        _ids, mem, Sm = S._block(pdf, members)
        not_self = mem[None, :] != np.arange(len(ids))[:, None]
        ii, jj = np.nonzero(S._kth_keep(Sm, not_self, k))
        got = set(zip(ids[ii], ids[mem[jj]]))
        want = _brute_topk(pdf, lambda i, j: members[j] and i != j, k)
    else:
        labels = pdf["label"].to_numpy()
        _ids, _mem, Sm = S._block(pdf)
        ii, jj = np.nonzero(S._kth_keep(Sm, labels[None, :] != labels[:, None], k))
        got = set(zip(ids[ii], ids[jj]))
        want = _brute_topk(pdf, lambda i, j: labels[i] != labels[j], k)
    assert want <= got, sorted(want - got)


def test_kth_keep_keeps_every_tie_at_the_kth_score():
    """Exact ties at the k-th score all survive the pre-selection (the JVM
    rank, not the kernel, breaks them by id), and entries more than the
    slack below it are dropped."""
    Sm = np.array([[0.9, 0.5, 0.5, 0.5, 0.5 - 2e-5, 0.1]])
    allowed = np.ones_like(Sm, dtype=bool)
    allowed[0, 0] = False
    keep = S._kth_keep(Sm, allowed, 2)
    assert keep.tolist() == [[False, True, True, True, False, False]]


_KERNEL_SPELLINGS = {
    # spelling -> the one helper allowed to contain it
    "F.row_number()": "_rank",
    "F.nullif(_norm(": "_cos",
    "np.linalg.norm": "_block",
}


def _spelling(node) -> str | None:
    if not isinstance(node, (ast.Call, ast.Attribute)):
        return None
    if isinstance(node, ast.Attribute):
        if (
            node.attr == "norm"
            and isinstance(node.value, ast.Attribute)
            and node.value.attr == "linalg"
        ):
            return "np.linalg.norm"
        return None
    f = node.func
    if isinstance(f, ast.Attribute) and getattr(f.value, "id", None) == "F":
        if f.attr == "row_number":
            return "F.row_number()"
        if (
            f.attr == "nullif"
            and node.args
            and isinstance(node.args[0], ast.Call)
            and isinstance(node.args[0].func, ast.Name)
            and node.args[0].func.id == "_norm"
        ):
            return "F.nullif(_norm("
    return None


def test_kernel_is_spelled_in_one_place():
    """Static guard: in the similarity family (similarity.py, pq.py,
    incrdedup.py) the row_number rank, the rounded-cosine denominator and
    the numpy row norm appear only inside their kernel helper — a query
    composes the helpers instead of re-spelling them."""
    pkg = pathlib.Path(S.__file__).parent
    offenders = []
    for name in ("similarity.py", "pq.py", "incrdedup.py"):
        tree = ast.parse((pkg / name).read_text())
        for top in tree.body:
            for node in ast.walk(top):
                hit = _spelling(node)
                owner = getattr(top, "name", None)
                allowed = name == "similarity.py" and owner == _KERNEL_SPELLINGS.get(hit)
                if hit and not allowed:
                    offenders.append(f"{name}:{node.lineno} {hit} in {owner}")
    assert not offenders, offenders


def _cached_plans(spark) -> int:
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return int(field.get(cm).size())


def _settled(sc, limit: int | None = None) -> int:
    """The persisted-RDD count once the ContextCleaner has caught up: it
    unpersists a released pin asynchronously, after both the Python handle
    and the JVM object are collected. Stops at ``limit`` or once the count
    has stopped falling."""
    last, steady = -1, 0
    for _ in range(80):
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.25)
        n = sc._jsc.getPersistentRDDs().size()
        if limit is not None and n <= limit:
            break
        steady = steady + 1 if n == last else 0
        if steady >= 4:
            break
        last = n
    return n


@pytest.mark.parametrize(
    "query",
    [
        "sim_ivf_topk",
        "sim_ivf_append_search",
        "sim_ivf_topk_pq",
        "sim_ivf_topk_pq_residual",
        "dedup_semantic_append",
    ],
)
def test_ivf_indexes_release_what_they_persist(spark, sf_correct, query):
    """After ``memo.clear()`` the persisted RDDs and the CacheManager's
    cached plans are back where they were before the query ran: the
    k-means training persist goes with its memo entry (or right after the
    append store is written), the calibration sample is a driver-side
    frame, not a pin, and the PQ codes and the semantic store's arrival
    probes are unpinned with their memo entries."""
    from databricks_incremental_lakehouse_spark import memo
    from databricks_incremental_lakehouse_spark.registry import QUERIES

    sc = spark.sparkContext
    memo.clear()
    rdds, plans = _settled(sc), _cached_plans(spark)
    QUERIES[query](spark, sf_correct).collect()
    memo.clear()
    assert _cached_plans(spark) == plans
    assert _settled(sc, rdds) <= rdds
