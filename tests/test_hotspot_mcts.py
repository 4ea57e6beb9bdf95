"""hotspot's lazily expanded MCTS against the eager reference search it
replaced: the same result, the same scorer calls in the same order and
the same rng state afterwards, on random instances. Spark-free."""
import itertools
import math
import random

from riskloc_spark.operators.hotspot import _mcts, _SetScorer

# --- the eager reference (builds every child on a node's first visit) --------


class _EagerNode:
    __slots__ = ("parent", "state", "children", "fully_expanded", "Q", "N")

    def __init__(self):
        self.parent = None
        self.state: list[tuple] = []
        self.children: list[_EagerNode] = []
        self.fully_expanded = False
        self.Q = 0.0
        self.N = 0


def _eager_ucb(node, C=math.sqrt(2.0)):
    best, best_score = None, -1.0
    for child in node.children:
        if child.N > 0 and not child.fully_expanded:
            score = child.Q + C * math.sqrt(math.log(node.N) / child.N)
            if score > best_score:
                best, best_score = child, score
    return best


def _eager_mcts(elements, scorer, pt, m, rng):
    element_scores = {e: scorer([e]) for e in elements}
    root = _EagerNode()
    max_q = -1.0
    best_state = []

    def select(node):
        while len(node.state) < len(elements):
            if not node.children:
                for e in elements:
                    if e not in set(node.state):
                        child = _EagerNode()
                        child.state = node.state + [e]
                        child.parent = node
                        node.children.append(child)
                return node
            q_max, all_visit = 0.0, True
            for child in node.children:
                q_max = max(q_max, child.Q)
                if child.N == 0:
                    all_visit = False
            if not all_visit and rng.random() > q_max:
                return node
            nxt = _eager_ucb(node)
            if nxt is None:
                if all_visit:
                    node.fully_expanded = True
                    if node.parent is None:
                        return node
                    node = node.parent
                else:
                    return node
            else:
                node = nxt
        node.fully_expanded = True
        return node

    def expand(node):
        best, best_score = None, -1.0
        for child in node.children:
            if child.N == 0:
                s = element_scores[child.state[-1]]
                if s > best_score:
                    best, best_score = child, s
        return best

    for _ in range(m):
        node = select(root)
        if not node.fully_expanded:
            expanded = expand(node)
            if expanded is not None:
                node = expanded
        if root.fully_expanded:
            break
        new_q = scorer(node.state)
        walker = node
        while walker is not None:
            walker.N += 1
            walker.Q = max(walker.Q, new_q)
            walker = walker.parent
        if new_q > max_q:
            max_q = root.Q
            best_state = list(node.state)
        elif (
            new_q == max_q
            and not set(node.state) <= set(best_state)
            and len(node.state) < len(best_state)
        ):
            max_q = root.Q
            best_state = list(node.state)
        if max_q >= pt:
            break
    return best_state, max_q


# --- random instances ---------------------------------------------------------


def _random_scorer(rng, elements, scoring):
    """A _SetScorer over random element stats. Stats are drawn from a few
    discrete levels and some elements copy another's, so single and set
    scores tie exactly; under gps some elements score <= -1."""
    stats = {}
    for e in elements:
        if stats and rng.random() < 0.3:
            stats[e] = dict(stats[rng.choice(list(stats))])
            continue
        n_e = float(rng.randint(1, 4))
        B_e = float(rng.choice([0.0, 1.0, 2.0, 4.0]))
        A_e = B_e * rng.choice([0.0, 0.25, 1.0, 3.0, 9.0])
        Q_e = float(rng.choice([0.0, 1.0, 4.0]))
        stats[e] = dict(n_e=n_e, A_e=A_e, B_e=B_e, Q_e=Q_e,
                        P_e=Q_e * rng.choice([0.0, 0.5, 1.0, 2.0]))
    totals = {
        "N": sum(s["n_e"] for s in stats.values()) + rng.choice([0, 3]),
        "B_tot": sum(s["B_e"] for s in stats.values()) + rng.choice([0.0, 2.0]),
        "Q_tot": sum(s["Q_e"] for s in stats.values()) + rng.choice([0.0, 5.0]),
    }
    scorer = _SetScorer(stats, totals)
    return scorer.ps if scoring == "ps" else scorer.gps


def _run(search, elements, score_fn, pt, m, seed):
    calls = []

    def rec(sel):
        calls.append(tuple(sel))
        return score_fn(sel)

    rng = random.Random(seed)
    result = search(elements, rec, pt, m, rng)
    return result, calls, rng.random()


def test_lazy_mcts_is_the_eager_search():
    """Same (state, score), scorer-call sequence and next rng draw as the
    eager reference on 180 random instances: gps and ps, pt reached and
    not, 0 to 25 elements, exact ties among the single-element scores and
    gps single scores <= -1 (never expanded)."""
    reached = unreached = low = tied = 0
    cases = itertools.product(["gps", "ps"], [0.3, 0.8, 1.5], [5, 60, 200], [0, 1, 2, 7, 25])
    for case, (scoring, pt, m, k) in enumerate(cases):
        for inst in range(2):
            rng = random.Random(1000 * case + inst)
            elements = [(f"e{i}", f"x{i % 3}") for i in range(k)]
            rng.shuffle(elements)
            score_fn = _random_scorer(rng, elements, scoring)
            want = _run(_eager_mcts, elements, score_fn, pt, m, inst)
            assert _run(_mcts, elements, score_fn, pt, m, inst) == want, (
                scoring, pt, m, k, inst)
            singles = [score_fn([e]) for e in elements]
            low += bool(singles) and min(singles) <= -1.0
            tied += len(set(singles)) < len(singles)
            reached += want[0][1] >= pt
            unreached += want[0][1] < pt
    assert reached and unreached and low and tied


def test_lazy_mcts_on_a_scorer_with_nan_and_all_low_singles():
    """Single scores that are NaN or <= -1 are never expanded; when none is
    left the selected node itself is scored again, as in the eager search."""
    elements = [(f"e{i}",) for i in range(6)]
    table = {0: float("nan"), 1: -1.0, 2: -3.0, 3: float("nan"), 4: -1.0, 5: -2.0}

    def score_fn(sel):
        idx = sorted(int(e[0][1:]) for e in sel)
        if len(idx) == 1:
            return table[idx[0]]
        return -0.5 * len(idx) if idx else 0.0

    for pt, m in ((0.5, 30), (1.5, 200)):
        for seed in range(3):
            assert _run(_mcts, elements, score_fn, pt, m, seed) == _run(
                _eager_mcts, elements, score_fn, pt, m, seed
            )
