"""Pure-Python graph algorithm kernels.

These are exact re-implementations of the algorithm *semantics* of
facebookresearch/dachshund (reference at /root/reference), written from
scratch in Python. They serve two purposes:

1. Golden oracles for the distributed (DataFrame) operators in
   ``dachshund_spark.operators`` — the distributed implementations must
   agree with these on every fixture graph.
2. Per-graph execution kernels invoked inside ``applyInPandas`` blocks for
   the inherently-sequential algorithms (CNM, fractional coreness, beam
   search, Brandes, Fiedler) where the graph-per-key granularity matches
   the reference's single-heap bound.

All functions operate on plain edge lists / adjacency dicts; node ids are
ints. Reference citations are given per function (file:line in
/root/reference).
"""

from __future__ import annotations

import heapq
import math
import random
from collections import defaultdict, deque

import numpy as np

# ---------------------------------------------------------------------------
# Graph construction (cf. src/dachshund/simple_undirected_graph_builder.rs:79-122)
# ---------------------------------------------------------------------------


def build_undirected_adj(edges):
    """Edge list -> {node: set(neighbors)}; dedups repeated/reversed edges and
    self-loops are kept as given by the reference builder (it inserts both
    endpoints symmetrically; a self-loop (v,v) becomes v in N(v)).

    cf. simple_undirected_graph_builder.rs:79-103 (BTreeSet insert both ways).
    """
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    return dict(adj)


def build_directed_adj(edges):
    """Edge list -> (out_adj, in_adj) dicts of sets.

    cf. simple_directed_graph_builder.rs:26-53.
    """
    out_adj, in_adj = defaultdict(set), defaultdict(set)
    nodes = set()
    for u, v in edges:
        out_adj[u].add(v)
        in_adj[v].add(u)
        nodes.add(u)
        nodes.add(v)
    for n in nodes:
        out_adj.setdefault(n, set())
        in_adj.setdefault(n, set())
    return dict(out_adj), dict(in_adj)


def build_weighted_adj(edges):
    """Weighted edge list -> {node: {neighbor: weight}} with undirected
    dedup where the *last* weight wins for duplicate (even reversed) pairs.

    cf. weighted_undirected_graph_builder.rs:21-73; last-wins semantics
    verified by tests/weighted_graph.rs:74-84.
    """
    canon = {}
    for u, v, w in edges:
        key = (u, v) if u <= v else (v, u)
        canon[key] = w  # last wins
    adj = defaultdict(dict)
    for (u, v), w in canon.items():
        adj[u][v] = w
        adj[v][u] = w
    return dict(adj)


def degrees(adj):
    return {n: len(nbrs) for n, nbrs in adj.items()}


def count_edges(adj):
    """cf. simple_undirected_graph.rs:66-72 (sum of degrees / 2)."""
    return sum(len(nbrs) for nbrs in adj.values()) // 2


# ---------------------------------------------------------------------------
# Connected components (cf. src/dachshund/algorithms/connected_components.rs)
# ---------------------------------------------------------------------------


def connected_components_membership(adj, ignore_nodes=None, ignore_edges=None):
    """BFS flood fill with component indices in discovery order; returns
    (membership dict, num_components).  Mirrors the reference's exact
    bookkeeping, including the quirk that a root node is only recorded via a
    back-edge, so fully isolated roots consume an index but appear in no
    component.

    cf. connected_components.rs:26-76.
    """
    ignore_nodes = ignore_nodes or set()
    ignore_edges = ignore_edges or set()

    def edge_ok(a, b):
        return (a, b) not in ignore_edges and (b, a) not in ignore_edges

    components = {}
    queue = sorted(n for n in adj if n not in ignore_nodes)
    queue_set = set(queue)
    idx = 0
    import heapq as _hq

    _hq.heapify(queue)
    while queue_set:
        while True:
            nid = _hq.heappop(queue)
            if nid in queue_set:
                break
        queue_set.discard(nid)
        q2 = sorted(x for x in adj.get(nid, ()) if edge_ok(nid, x))
        _hq.heapify(q2)
        q2_set = set(q2)
        while q2_set:
            while True:
                n2 = _hq.heappop(q2)
                if n2 in q2_set:
                    break
            q2_set.discard(n2)
            if n2 in ignore_nodes:
                continue
            components[n2] = idx
            queue_set.discard(n2)
            for n3 in adj.get(n2, ()):
                if (
                    n3 not in ignore_nodes
                    and edge_ok(n2, n3)
                    and n3 not in components
                    and n3 not in q2_set
                ):
                    _hq.heappush(q2, n3)
                    q2_set.add(n3)
        idx += 1
    return components, idx


def connected_components(adj, ignore_nodes=None, ignore_edges=None):
    """Membership -> list of node lists (cf. connected_components.rs:77-88)."""
    membership, n = connected_components_membership(adj, ignore_nodes, ignore_edges)
    out = [[] for _ in range(n)]
    for nid, idx in membership.items():
        out[idx].append(nid)
    return out


def is_connected(adj):
    """DFS from an arbitrary root (cf. connectivity.rs:48-63); raises on
    empty graph as the reference errors."""
    if not adj:
        raise ValueError("Graph is empty")
    root = next(iter(adj))
    seen = {root}
    stack = [root]
    while stack:
        n = stack.pop()
        for m in adj[n]:
            if m not in seen:
                seen.add(m)
                stack.append(m)
    return len(seen) == len(adj)


def weakly_connected_components(out_adj, in_adj):
    """cf. connected_components.rs:103-105 — treat edges as undirected."""
    adj = {n: set(out_adj.get(n, ())) | set(in_adj.get(n, ())) for n in out_adj}
    return connected_components(adj)


def strongly_connected_components(out_adj, in_adj):
    """Two-phase forward/backward peeling (Kosaraju-flavored), matching the
    reference's output granularity (list of node lists).

    cf. connected_components.rs:106-155.  Component *membership* (as sets) is
    deterministic; list ordering follows ascending root id like the
    reference's BTreeSet iteration.
    """
    nodes = sorted(out_adj)
    visited = set()

    def visit(root, blocked, adj):
        order = []
        stack = [root]
        while stack:
            n = stack.pop()
            if n in blocked:
                continue
            blocked.add(n)
            order.append(n)
            for m in adj.get(n, ()):
                if m not in blocked:
                    stack.append(m)
        return order

    for n in nodes:
        if n not in visited:
            visit(n, visited, out_adj)

    remaining = set(nodes)
    upstream = set()
    components = []
    for n in nodes:
        if n not in remaining:
            continue
        remaining.discard(n)
        comp = {n}
        newly = visit(n, upstream, in_adj)
        for m in newly:
            if m in remaining:
                remaining.discard(m)
                comp.add(m)
        components.append(sorted(comp))
    return components


def tarjan_scc(out_adj):
    """TRUE strongly connected components (iterative Tarjan) — the
    correctness oracle for the distributed SCC operator.

    Note [reference bug #3]: the reference's
    get_strongly_connected_components (connected_components.rs:106-155,
    ported faithfully above) pops nodes in ascending id order and adds
    EVERY not-yet-claimed backward-reachable node to the popped node's
    component — conflating "u can reach n" with "u strongly connected to
    n".  On e.g. 5→6→7→5, 7→30, 30→1, 1⇄2 it returns {1,2,30,7,5,6} as
    one component; the true SCCs are {1,2},{30},{5,6,7}.  The reference's
    own tests (tests/karate_club.rs:645-684) only exercise inputs (DAG,
    fully-symmetric, one min-id 3-cycle) where the shortcut happens to
    coincide with the true answer.  Returns list of sorted node lists,
    ordered by component min id."""
    index = {}
    lowlink = {}
    on_stack = set()
    stack = []
    comps = []
    counter = [0]
    for root in sorted(out_adj):
        if root in index:
            continue
        # iterative Tarjan: (node, iterator position) work stack
        work = [(root, 0)]
        while work:
            n, pi = work.pop()
            if pi == 0:
                index[n] = lowlink[n] = counter[0]
                counter[0] += 1
                stack.append(n)
                on_stack.add(n)
            recurse = False
            succ = sorted(out_adj.get(n, ()))
            for i in range(pi, len(succ)):
                m = succ[i]
                if m not in index:
                    work.append((n, i + 1))
                    work.append((m, 0))
                    recurse = True
                    break
                if m in on_stack:
                    lowlink[n] = min(lowlink[n], index[m])
            if recurse:
                continue
            if lowlink[n] == index[n]:
                comp = []
                while True:
                    m = stack.pop()
                    on_stack.discard(m)
                    comp.append(m)
                    if m == n:
                        break
                comps.append(sorted(comp))
            if work:
                parent = work[-1][0]
                lowlink[parent] = min(lowlink[parent], lowlink[n])
    return sorted(comps, key=min)


def is_acyclic(out_adj):
    """Iterative sink-stripping (cf. simple_directed_graph.rs:25-43)."""
    leaves = set()
    n = len(out_adj)
    while len(leaves) < n:
        found = False
        for node, outs in out_adj.items():
            if node not in leaves and outs <= leaves:
                leaves.add(node)
                found = True
        if not found:
            return False
    return True


# ---------------------------------------------------------------------------
# Triangles / clustering / transitivity
# (cf. src/dachshund/algorithms/{transitivity,clustering}.rs)
# ---------------------------------------------------------------------------


def triangle_count(adj, node):
    """Per-node triangle participation (cf. transitivity.rs:20-34)."""
    nbrs = adj[node]
    ties = sum(len(adj[m] & nbrs) for m in nbrs)
    return ties // 2


def triangle_counts(adj):
    return {n: triangle_count(adj, n) for n in adj}


def triples_count(adj, node):
    d = len(adj[node])
    return d * (d - 1) // 2


def transitivity(adj):
    """3*T / #triples (cf. transitivity.rs:43-51)."""
    tri = sum(triangle_count(adj, n) for n in adj)
    trip = sum(triples_count(adj, n) for n in adj)
    return tri / trip


def clustering_coefficient(adj, node):
    """ties / (n*(n-1)); None for degree <= 1 (cf. clustering.rs:20-39)."""
    nbrs = adj[node]
    n = len(nbrs)
    if n <= 1:
        return None
    ties = sum(len(adj[m] & nbrs) for m in nbrs)
    return ties / (n * (n - 1))


def avg_clustering(adj):
    coefs = [c for c in (clustering_coefficient(adj, n) for n in adj) if c is not None]
    if not coefs:
        # the reference's 0.0/0 is an f64 NaN (clustering.rs:40-46), which
        # serde_json then serializes as null
        return float("nan")
    return sum(coefs) / len(coefs)


def approx_avg_clustering(adj, samples, seed=0):
    """Seeded wedge sampling (cf. clustering.rs:50-80; Schank–Wagner)."""
    rng = random.Random(seed)
    eligible = [n for n in adj if len(adj[n]) >= 2]
    hits = 0
    for _ in range(samples):
        v = eligible[rng.randrange(len(eligible))]
        u, w = rng.sample(sorted(adj[v]), 2)
        if w in adj[u]:
            hits += 1
    return hits / samples


def approx_transitivity(adj, samples, seed=0):
    """Triples-weighted seeded wedge sampling (cf. transitivity.rs:56-91)."""
    rng = random.Random(seed)
    eligible = [n for n in adj if len(adj[n]) >= 2]
    weights = [triples_count(adj, n) for n in eligible]
    cumw = np.cumsum(weights)
    hits = 0
    for _ in range(samples):
        r = rng.random() * cumw[-1]
        v = eligible[int(np.searchsorted(cumw, r, side="right"))]
        u, w = rng.sample(sorted(adj[v]), 2)
        if w in adj[u]:
            hits += 1
    return hits / samples


# ---------------------------------------------------------------------------
# Coreness family (cf. src/dachshund/algorithms/coreness.rs)
# ---------------------------------------------------------------------------


def k_cores(adj, k, removed=None):
    """Iteratively delete nodes with (remaining) degree < k, then return the
    connected components of the remainder.  Implements *correct* peeling —
    the reference's loop decrements its own counter mid-iteration
    (coreness.rs:29-58, in-source "[BUG]" note at :30) — and matches the
    values asserted by the reference's own tests
    (tests/karate_club.rs:460-486, tests/simple_graph.rs:315-344).

    ``removed`` is mutated in place when provided (the featurizer threads an
    accumulated removal set through successive calls —
    simple_transformer.rs:55-63).
    """
    if removed is None:
        removed = set()
    deg = {n: len(nbrs - removed) for n, nbrs in adj.items() if n not in removed}
    queue = deque(n for n, d in deg.items() if d < k)
    queued = set(queue)
    while queue:
        n = queue.popleft()
        queued.discard(n)
        if n in removed or deg[n] >= k:
            continue
        removed.add(n)
        for m in adj[n]:
            if m not in removed and m in deg:
                deg[m] -= 1
                if deg[m] < k and m not in queued:
                    queue.append(m)
                    queued.add(m)
    comps = connected_components(adj, ignore_nodes=removed)
    return [c for c in comps if c]


def coreness_values(adj):
    """Exact core numbers via iterative peeling (output-equivalent to the
    Batagelj–Zaveršnik bin algorithm, coreness.rs:106-161, with the
    reference's decrement quirks corrected — matches
    tests/simple_graph.rs:315-344 including the 'breaks the original
    algorithm' graph)."""
    deg = {n: len(nbrs) for n, nbrs in adj.items()}
    heap = [(d, n) for n, d in deg.items()]
    heapq.heapify(heap)
    core = {}
    k = 0
    while heap:
        d, n = heapq.heappop(heap)
        if n in core or d != deg[n]:
            continue
        k = max(k, d)
        core[n] = k
        for m in adj[n]:
            if m not in core and deg[m] > d:
                deg[m] -= 1
                heapq.heappush(heap, (deg[m], m))
    return core


def core_assignments(adj, coreness=None):
    """Per-coreness-level CC decomposition (cf. coreness.rs:82-104):
    for each distinct coreness bin start, CCs of the graph minus
    lower-coreness nodes."""
    if coreness is None:
        coreness = coreness_values(adj)
    nodes = sorted(coreness, key=lambda n: coreness[n])
    # bin starts, one per degree value 1..=max (cf. _init_bin_starts :60-80)
    bin_starts = [0]
    cur = 0
    for i, n in enumerate(nodes):
        d = coreness[n]
        if d > cur:
            for _ in range(cur + 1, d + 1):
                bin_starts.append(i)
            cur = d
    out = []
    for start in bin_starts[1:]:
        removed = set(nodes[:start])
        comps = connected_components(adj, ignore_nodes=removed)
        out.append([c for c in comps if c])
    return out


def averaged_ties_ranking(scores):
    """Scores -> descending ranks; ties share the averaged rank.
    cf. coreness.rs:319-349; tested tests/simple_graph.rs:346-361.
    """
    items = sorted(scores.items(), key=lambda kv: -kv[1])
    ranking = {}
    i = 0
    while i < len(items):
        j = i
        while j < len(items) and items[j][1] == items[i][1]:
            j += 1
        # ranks i+1..j averaged
        rank = (i + 1 + j) / 2.0
        for k in range(i, j):
            ranking[items[k][0]] = rank
        i = j
    return ranking


def coreness_anomaly(adj, coreness=None):
    """|ln(rank_by_coreness) - ln(rank_by_degree)| (cf. coreness.rs:163-181,
    Core-A)."""
    if coreness is None:
        coreness = coreness_values(adj)
    core_ranks = averaged_ties_ranking(coreness)
    deg_ranks = averaged_ties_ranking(degrees(adj))
    return {
        n: abs(math.log(core_ranks[n]) - math.log(deg_ranks[n])) for n in adj
    }


def k_trusses(adj, k, ignore_nodes=None):
    """Iterative triangle-support peeling after a (k-1)-core prune; returns
    (list of edge sets, set of node frozensets).

    cf. coreness.rs:183-264; golden values tests/simple_graph.rs:266-313.
    When ``ignore_nodes`` is None the (k-1)-core prune is applied first
    (coreness.rs:255-264).
    """
    if ignore_nodes is None:
        ignore_nodes = set()
        k_cores(adj, k - 1, ignore_nodes)
    neighbors = {
        n: {m for m in nbrs if m not in ignore_nodes} for n, nbrs in adj.items()
    }
    edges = set()
    for n, nbrs in adj.items():
        for m in nbrs:
            edges.add((n, m) if n < m else (m, n))
    ignore_edges = set()
    changed = True
    while changed:
        changed = False
        to_remove = []
        for a, b in sorted(edges):
            if len(neighbors[a] & neighbors[b]) < k - 2:
                to_remove.append((a, b))
                neighbors[a].discard(b)
                neighbors[b].discard(a)
        for e in to_remove:
            changed = True
            edges.discard(e)
            ignore_edges.add(e)
    membership, n_comp = connected_components_membership(
        adj, ignore_edges=ignore_edges
    )
    trusses = [set() for _ in range(n_comp)]
    for nid, idx in membership.items():
        for m in neighbors.get(nid, ()):
            if membership.get(m) == idx and nid < m:
                e = (nid, m)
                if e in edges and e not in ignore_edges:
                    trusses[idx].add(e)
    filtered = [t for t in trusses if t]
    truss_nodes = {frozenset(x for e in t for x in e) for t in filtered}
    return filtered, truss_nodes


def fractional_coreness(wadj):
    """Weighted (s-core) coreness: min-priority peeling where shell value is
    the running max of popped remaining-weights.

    cf. coreness.rs:267-316; golden values tests/weighted_graph.rs:105-133.
    """
    weight = {n: sum(ws.values()) for n, ws in wadj.items()}
    heap = [(w, n) for n, w in weight.items()]
    heapq.heapify(heap)
    done = {}
    shell = float("-inf")
    while heap:
        w, n = heapq.heappop(heap)
        if n in done or w != weight[n]:
            continue
        if w > shell:
            shell = w
        done[n] = shell
        for m, ew in wadj[n].items():
            if m not in done:
                weight[m] -= ew
                heapq.heappush(heap, (weight[m], m))
    return done


def k_peak_mountain_assignment(adj):
    """k-peak / mountain decomposition (cf. k_peaks.rs:52-130; golden values
    tests/simple_graph.rs:446-530).

    Returns (peak_numbers {node: int}, {mountain_id: {node: orig_coreness}}).
    """
    mountain_assignments = {n: [0, 0] for n in adj}
    remaining = set(adj)
    curr_core = coreness_values(adj)
    orig_core = dict(curr_core)
    mountain_idx = 0
    peak_numbers = {}
    while remaining:
        k_value = max(curr_core.values())
        degeneracy_nodes = [n for n, v in curr_core.items() if v == k_value]
        for d in degeneracy_nodes:
            remaining.discard(d)
            cv = curr_core[d]
            peak_numbers.setdefault(d, cv)
            if cv > mountain_assignments[d][0]:
                mountain_assignments[d] = [cv, mountain_idx]
        # recompute coreness on the induced subgraph of remaining nodes
        # (cf. k_peaks.rs:25-49)
        sub_edges = [
            (n, m)
            for n in adj
            for m in adj[n]
            if n in remaining and m in remaining
        ]
        sub_adj = build_undirected_adj(sub_edges)
        new_core = coreness_values(sub_adj)
        for n in remaining:
            new_core.setdefault(n, 0)
        for n, c in new_core.items():
            drop = curr_core[n] - c
            if drop > mountain_assignments[n][0]:
                mountain_assignments[n] = [drop, mountain_idx]
        mountain_idx += 1
        curr_core = new_core
    mountain_id_core = {}
    for n, c in orig_core.items():
        mid = mountain_assignments[n][1]
        mountain_id_core.setdefault(mid, {})[n] = c
    return peak_numbers, mountain_id_core


# ---------------------------------------------------------------------------
# Shortest paths / betweenness
# (cf. src/dachshund/algorithms/{shortest_paths,betweenness}.rs)
# ---------------------------------------------------------------------------


def shortest_paths(adj, source, component=None):
    """Unit-weight Dijkstra returning (dist, parents-with-*all*-predecessors).
    dist values are ints or None (unreachable).  Source lists itself as a
    parent, matching the reference (shortest_paths.rs:19-77, :652).
    """
    targets = component if component is not None else list(adj)
    dist = {n: None for n in targets}
    parents = {n: set() for n in targets}
    dist[source] = 0
    seen = set()
    heap = [(0, source)]
    while heap:
        d, u = heapq.heappop(heap)
        if u in seen:
            continue
        seen.add(u)
        for v in adj[u]:
            if v in dist and v not in seen:
                alt = d + 1
                if dist[v] is None or alt <= dist[v]:
                    dist[v] = alt
                    parents[v].add(u)
                    heapq.heappush(heap, (alt, v))
    parents[source].add(source)
    return dist, parents


def shortest_paths_bfs(adj, source):
    """BFS variant: (visit stack, path counts sigma, predecessor lists).
    cf. shortest_paths.rs:81-128 (Brandes support)."""
    preds = {n: [] for n in adj}
    sigma = {n: 1 if n == source else 0 for n in adj}
    dist = {n: 0 if n == source else -1 for n in adj}
    stack = []
    queue = deque([source])
    while queue:
        v = queue.popleft()
        stack.append(v)
        for w in sorted(adj[v]):
            if dist[w] < 0:
                queue.append(w)
                dist[w] = dist[v] + 1
            if dist[w] == dist[v] + 1:
                sigma[w] += sigma[v]
                preds[w].append(v)
    return stack, sigma, preds


def enumerate_shortest_paths(dist, parents, source):
    """Unroll the predecessor DAG into explicit path lists, processing nodes
    in nondecreasing distance order.  The source seeds ``paths[source] =
    [[]]`` and (being its own parent) resolves to ``[[source]]`` at d=0, so
    every downstream path starts with the source.

    cf. shortest_paths.rs:147-178 (param named `destination` there, but the
    call sites pass the *source*)."""
    by_dist = defaultdict(list)
    for n, d in dist.items():
        if n != source and d is not None:
            by_dist[d].append(n)
    by_dist[0] = [source]
    paths = {source: [[]]}
    for d in sorted(by_dist):
        for n in by_dist[d]:
            new_paths = []
            for p in parents[n]:
                for pp in paths.get(p, ()):
                    new_paths.append(pp + [n])
            paths[n] = new_paths
    return paths


def betweenness_naive(adj, sources=None, component=None):
    """All-pairs path-enumeration betweenness: every interior node on each
    shortest path gets 0.5/num_paths per (source, target) direction.
    cf. betweenness.rs:20-55; goldens tests/karate_club.rs:384-393.
    """
    counts = {n: 0.0 for n in adj}
    for source in sources if sources is not None else sorted(adj):
        dist, parents = shortest_paths(adj, source, component)
        paths = enumerate_shortest_paths(dist, parents, source)
        for target, plist in paths.items():
            if not plist:
                continue
            w = 0.5 / len(plist)
            for path in plist:
                for nid in path[1:-1]:
                    counts[nid] += w
    return counts


def betweenness_brandes(adj):
    """Brandes accumulation with the reference's 0.5 undirected halving.
    cf. betweenness.rs:57-96 (asserted equal to naive at
    tests/karate_club.rs:396-404)."""
    betweenness = {n: 0.0 for n in adj}
    for source in adj:
        stack, sigma, preds = shortest_paths_bfs(adj, source)
        delta = {n: 0.0 for n in adj}
        while stack:
            w = stack.pop()
            for p in preds[w]:
                delta[p] += (0.5 + delta[w]) * (sigma[p] / sigma[w])
            if w != source:
                betweenness[w] += delta[w]
    return betweenness


def brandes_single_source(adj, source):
    """One Brandes pass — dependency contributions from a single source.
    Used by the distributed source-parallel betweenness operator."""
    stack, sigma, preds = shortest_paths_bfs(adj, source)
    delta = {n: 0.0 for n in adj}
    contrib = {}
    while stack:
        w = stack.pop()
        for p in preds[w]:
            delta[p] += (0.5 + delta[w]) * (sigma[p] / sigma[w])
        if w != source:
            contrib[w] = contrib.get(w, 0.0) + delta[w]
    return contrib


# ---------------------------------------------------------------------------
# Spectral (cf. adjacency_matrix.rs, laplacian.rs, algebraic_connectivity.rs,
#            eigenvector_centrality.rs)
# ---------------------------------------------------------------------------


def adjacency_matrix(adj):
    """Dense n×n float adjacency over sorted node ids
    (cf. adjacency_matrix.rs:19-44)."""
    ids = sorted(adj)
    index = {n: i for i, n in enumerate(ids)}
    mat = np.zeros((len(ids), len(ids)))
    for n, nbrs in adj.items():
        for m in nbrs:
            mat[index[n], index[m]] += 1.0
    return mat, ids


def degree_matrix(adj):
    ids = sorted(adj)
    mat = np.diag([float(len(adj[n])) for n in ids])
    return mat, ids


def laplacian_matrix(adj):
    """L = D - A (cf. laplacian.rs:20-35)."""
    a, ids = adjacency_matrix(adj)
    d, _ = degree_matrix(adj)
    return d - a, ids


def algebraic_connectivity(adj):
    """Fiedler value: 2nd-smallest eigenvalue of the Laplacian
    (cf. algebraic_connectivity.rs:20-26)."""
    lap, _ = laplacian_matrix(adj)
    eig = np.linalg.eigvalsh(lap)
    return float(np.sort(eig)[1])


def eigenvector_centrality(adj, eps=0.001, max_iter=1000):
    """Power iteration with L-inf normalization each step, L1 stopping rule.
    cf. eigenvector_centrality.rs:21-42; goldens tests/karate_club.rs:446-458.
    """
    a, ids = adjacency_matrix(adj)
    n = len(ids)
    x0 = np.zeros(n)
    x1 = np.full(n, 1.0 / n)
    it = 0
    while np.abs(x0 - x1).sum() > eps and it < max_iter:
        x0 = x1
        x1 = x0 @ a
        x1 = x1 / x1.max()
        it += 1
    return {ids[i]: float(x1[i]) for i in range(n)}


def pagerank_numpy(edges, damping=0.85, tol=1e-6, max_iter=200):
    """Dense reference PageRank used as the oracle for the distributed
    operator (north_rule: 'allclose 1e-6' at convergence).  Directed edges;
    dangling mass redistributed uniformly; L1 convergence on |delta| < tol.
    """
    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for u, _ in edges:
        out_deg[idx[u]] += 1
    pr = np.full(n, 1.0 / n)
    srcs = np.array([idx[u] for u, _ in edges])
    dsts = np.array([idx[v] for _, v in edges])
    for _ in range(max_iter):
        contrib = np.zeros(n)
        w = pr[srcs] / out_deg[srcs]
        np.add.at(contrib, dsts, w)
        dangling = pr[out_deg == 0].sum()
        new = (1 - damping) / n + damping * (contrib + dangling / n)
        if np.abs(new - pr).sum() < tol:
            pr = new
            break
        pr = new
    return {nodes[i]: float(pr[i]) for i in range(n)}


# ---------------------------------------------------------------------------
# Brokerage (cf. src/dachshund/algorithms/brokerage.rs:26-66)
# ---------------------------------------------------------------------------


def brokerage_scores(out_adj, in_adj, node, membership):
    """Classify open two-paths a->v->b (a !-> b) by community membership of
    (a, v, b): coordinator / itinerant / gatekeeper / representative /
    liaison.  Goldens tests/karate_club.rs:564-636."""
    c_v = membership[node]
    coordinator = itinerant = gatekeeper = representative = liaison = total = 0
    for a in in_adj[node]:
        c_a = membership[a]
        a_out = out_adj[a]
        for b in out_adj[node]:
            if b in a_out:
                continue
            c_b = membership[b]
            if c_v == c_a and c_v == c_b:
                coordinator += 1
            elif c_v != c_a and c_a == c_b:
                itinerant += 1
            elif c_v != c_a and c_v == c_b:
                gatekeeper += 1
            elif c_v == c_a and c_v != c_b:
                representative += 1
            else:
                liaison += 1
            total += 1
    return {
        "coordinator": coordinator,
        "itinerant": itinerant,
        "gatekeeper": gatekeeper,
        "representative": representative,
        "liaison": liaison,
        "total_open_twopaths": total,
    }


# ---------------------------------------------------------------------------
# CNM greedy modularity (cf. src/dachshund/algorithms/cnm_communities.rs)
# ---------------------------------------------------------------------------


def _heap_key(delta, i, j):
    # Rust max-heap orders by (delta asc -> pop max), then *smaller* i wins,
    # then smaller j (cnm_communities.rs:31-49).  Python heapq is a min-heap,
    # so negate delta and keep (i, j) ascending.
    return (-delta, i, j)


def cnm_communities(adj):
    """Clauset–Newman–Moore greedy modularity with the reference's exact
    heap/tie-break discipline; returns (communities dict, modularity-change
    trace).  Golden traces: tests/simple_graph.rs:202-263,
    tests/karate_club.rs:516-562.
    """
    sorted_ids = sorted(adj)
    rev = {nid: i for i, nid in enumerate(sorted_ids)}
    communities = {i: {nid} for i, nid in enumerate(sorted_ids)}
    degree_map = {i: len(adj[nid]) for i, nid in enumerate(sorted_ids)}
    num_edges = sum(degree_map.values()) // 2
    if num_edges == 0:
        return {i: c for i, c in communities.items()}, []
    q0 = 1.0 / num_edges
    bmap = {i: {} for i in communities}
    heaps = {i: [] for i in communities}
    for nid in sorted_ids:
        i = rev[nid]
        for m in adj[nid]:
            j = rev[m]
            dq = q0 - 2.0 * (degree_map[i] * degree_map[j]) / ((2 * num_edges) ** 2)
            bmap[i][j] = dq
            heapq.heappush(heaps[i], _heap_key(dq, i, j))

    def top_of(h):
        return h[0] if h else None

    def global_max():
        best = None
        for h in heaps.values():
            t = top_of(h)
            if t is not None and (best is None or t < best):
                best = t
        return best

    trace = []
    best = global_max()
    if best is None:
        return communities, trace
    trace.append(-best[0])
    while best is not None and -best[0] > 0.0:
        _, i, j = best
        communities[j] |= communities.pop(i)
        neighbors_i = bmap.pop(i)
        neighbors_j = bmap.pop(j)
        all_neighbors = (set(neighbors_i) | set(neighbors_j)) - {i, j}
        new_j_map = {}
        new_j_heap = []
        for k in sorted(all_neighbors):
            dik = neighbors_i.get(k)
            djk = neighbors_j.get(k)
            if dik is not None and djk is not None:
                ndjk = dik + djk
            elif dik is not None:
                ndjk = dik - (degree_map[j] / num_edges) * (
                    degree_map[k] / (2 * num_edges)
                )
            else:
                ndjk = djk - (degree_map[i] / num_edges) * (
                    degree_map[k] / (2 * num_edges)
                )
            new_j_map[k] = ndjk
            nk = bmap[k]
            if dik is not None:
                nk.pop(i, None)
            nk[j] = ndjk
            old_heap = heaps.pop(k)
            new_heap = []
            for el in sorted(old_heap):
                _, kk, ll = el
                if ll == i:
                    continue
                if ll == j:
                    heapq.heappush(new_heap, _heap_key(ndjk, k, ll))
                else:
                    heapq.heappush(new_heap, el)
            heaps[k] = new_heap
            heapq.heappush(new_j_heap, _heap_key(ndjk, j, k))
        bmap[j] = new_j_map
        heaps[j] = new_j_heap
        heaps.pop(i, None)
        degree_map[j] = degree_map[j] + degree_map.pop(i)
        best = global_max()
        if best is not None:
            trace.append(-best[0])
    return communities, trace


# ---------------------------------------------------------------------------
# Label propagation (ours; north_rule "community label propagation")
# ---------------------------------------------------------------------------


def label_propagation(adj, max_iter=10):
    """Synchronous most-frequent-neighbor label propagation with the
    deterministic tie-break (max count, then min label).  This is the
    kernel-side oracle for the distributed operator."""
    labels = {n: n for n in adj}
    for _ in range(max_iter):
        new = {}
        changed = 0
        for n in adj:
            if not adj[n]:
                new[n] = labels[n]
                continue
            counts = defaultdict(int)
            for m in adj[n]:
                counts[labels[m]] += 1
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            new[n] = best
            if best != labels[n]:
                changed += 1
        labels = new
        if changed == 0:
            break
    return labels


# ---------------------------------------------------------------------------
# Featurizer composite (cf. src/dachshund/simple_transformer.rs:41-84)
# ---------------------------------------------------------------------------


def graph_stats(adj, seed=None):
    """The simple_graph_featurizer JSON feature map.

    bet_cent uses up to 100 betweenness sources sampled from the largest CC;
    when the largest CC has <= 100 nodes every node is a source and the
    result is deterministic (the reference uses thread_rng, which also
    degenerates to 'all nodes' in that case — simple_transformer.rs:46-52).
    For larger graphs we use a seeded RNG for reproducibility.
    """
    conn_comp = [c for c in connected_components(adj) if c]
    largest_cc = max(conn_comp, key=len)
    if len(largest_cc) <= 100:
        sources = list(largest_cc)
    else:
        rng = random.Random(seed if seed is not None else 0)
        sources = rng.sample(sorted(largest_cc), 100)
    betcent = betweenness_naive(adj, sources=sources, component=largest_cc)
    evcent = eigenvector_centrality(adj, 0.001, 1000)
    removed = set()
    k_cores_2 = k_cores(adj, 2, removed)
    k_trusses_3 = k_trusses(adj, 3, removed)[1]
    k_cores_4 = k_cores(adj, 4, removed)
    k_trusses_5 = k_trusses(adj, 5, removed)[1]
    k_cores_8 = k_cores(adj, 8, removed)
    k_trusses_9 = k_trusses(adj, 9, removed)[1]
    k_cores_16 = k_cores(adj, 16, removed)
    k_trusses_17 = k_trusses(adj, 17, removed)[1]
    return {
        "num_edges": count_edges(adj),
        "num_2_cores": len(k_cores_2),
        "num_4_cores": len(k_cores_4),
        "num_8_cores": len(k_cores_8),
        "num_16_cores": len(k_cores_16),
        "num_3_trusses": len(k_trusses_3),
        "num_5_trusses": len(k_trusses_5),
        "num_9_trusses": len(k_trusses_9),
        "num_17_trusses": len(k_trusses_17),
        "num_connected_components": len(conn_comp),
        "size_of_largest_cc": len(largest_cc),
        "bet_cent": _floor3(sum(betcent.values()) / len(betcent)),
        "evcent": _floor3(sum(evcent.values()) / len(evcent)),
        "clust_coef": _floor3(avg_clustering(adj)),
    }


def _floor3(x):
    """floor(x*1000)/1000; non-finite -> None (serde_json emits null for
    non-finite f64, simple_transformer.rs:77-82)."""
    if not math.isfinite(x):
        return None
    return math.floor(x * 1000.0) / 1000.0


# ---------------------------------------------------------------------------
# ANF / HyperBall-family sketch oracle (no reference counterpart: the
# reference's connectivity family, connected_components.rs:26-155, is
# exact-only; see operators/anf.py for the public-literature citations)
# ---------------------------------------------------------------------------


def anf_init(v, k):
    """The k initial Flajolet-Martin registers of vertex v — bit-identical
    to operators.anf._init_register_exprs (md5 -> first 15 hex chars ->
    trailing-zero count -> single set bit)."""
    import hashlib

    regs = []
    for i in range(k):
        x = int(hashlib.md5(f"{v}:{i}".encode()).hexdigest()[:15], 16)
        p = 60 if x == 0 else (x & -x).bit_length() - 1
        regs.append(1 << p)
    return regs


def anf_sketches(adj, rounds, k):
    """{v: neighbors} -> {v: [r0..r{k-1}]} after ``rounds`` OR-merge
    supersteps: register set of v summarizes the distance-<=rounds ball."""
    state = {v: anf_init(v, k) for v in adj}
    for _ in range(rounds):
        new = {}
        for v, nbrs in adj.items():
            regs = list(state[v])
            for u in nbrs:
                su = state[u]
                for i in range(k):
                    regs[i] |= su[i]
            new[v] = regs
        state = new
    return state


def anf_estimate(regs):
    """FM correction for one vertex's registers: 2^mean(lowest zero bit)
    / 0.77351 (mirrors operators.anf.anf_estimates)."""
    lows = []
    for r in regs:
        p = 0
        while r & (1 << p):
            p += 1
        lows.append(p)
    return 2.0 ** (sum(lows) / len(regs)) / 0.77351


def hits(edges, max_iter=8):
    """Sequential HITS oracle (Kleinberg, JACM 1999; mirrors
    operators/hits.py): directed (src, dst) pairs -> {v: (hub, auth)},
    each vector L1-normalized every half-step, fixed iteration count.
    Edge multiplicity counts as weight, exactly like the operator."""
    edges = list(edges)
    if not edges:
        raise ValueError("hits: empty edge table")
    verts = sorted({v for e in edges for v in e})
    n = len(verts)
    h = {v: 1.0 / n for v in verts}
    a = {v: 0.0 for v in verts}
    for _ in range(max_iter):
        a = {v: 0.0 for v in verts}
        for s, t in edges:
            a[t] += h[s]
        z = sum(a.values())
        a = {v: x / z for v, x in a.items()}
        h = {v: 0.0 for v in verts}
        for s, t in edges:
            h[s] += a[t]
        z = sum(h.values())
        h = {v: x / z for v, x in h.items()}
    return {v: (h[v], a[v]) for v in verts}


def adamic_adar(adj, min_common=2, max_center_degree=None):
    """Sequential link-prediction oracle (mirrors operators/linkpred.py):
    {v: neighbors} -> {(u, v): (common_neighbors, aa_score)} over
    non-adjacent u < v pairs, aa_score = sum of 1/ln(deg(center))."""
    import math

    acc: dict = {}
    for w, nbrs in adj.items():
        d = len(nbrs)
        if d < 2 or (max_center_degree is not None and d > max_center_degree):
            continue
        ns = sorted(nbrs)
        iw = 1.0 / math.log(d)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                key = (ns[i], ns[j])
                c, s = acc.get(key, (0, 0.0))
                acc[key] = (c + 1, s + iw)
    return {
        (u, v): (c, round(s, 6))
        for (u, v), (c, s) in acc.items()
        if c >= min_common and v not in adj[u]
    }


def harmonic_centrality(adj, sources):
    """Sequential harmonic-centrality oracle (mirrors
    operators/centrality.py:harmonic_centrality): {v: neighbors} +
    source list -> {v: H(v)} with H(v) = sum over sources s of
    1/d(s, v), unreachable pairs contributing 0, self at distance 0
    excluded.  The accumulation walks distances in INCREASING order,
    left-associated, mirroring the distributed side's fixed-order
    pivot expression so the float results are bit-identical (adding a
    zero term is an exact IEEE identity, so skipping absent distances
    is equivalent)."""
    counts: dict = {}  # v -> {dist: n_sources}
    for s in sources:
        dist = {s: 0}
        frontier = [s]
        d = 0
        while frontier:
            d += 1
            nxt = []
            for u in frontier:
                for w in adj.get(u, ()):
                    if w not in dist:
                        dist[w] = d
                        nxt.append(w)
            frontier = nxt
        for v, dv in dist.items():
            if dv > 0:
                by = counts.setdefault(v, {})
                by[dv] = by.get(dv, 0) + 1
    out = {}
    for v in adj:
        acc = 0.0
        for dv in sorted(counts.get(v, ())):
            acc = acc + counts[v][dv] / float(dv)
        out[v] = acc
    return out


def bowtie(edges):
    """Sequential bow-tie oracle (mirrors operators/bowtie.py): directed
    edge list -> {v: category} with category in CORE / IN / OUT /
    TENDRIL_TUBE / DISCONNECTED.  Giant SCC picked by
    (size DESC, min-member label ASC) — the same deterministic rule the
    distributed side applies to its canonical min-id component labels."""
    simple = {(u, v) for u, v in edges if u != v}
    out_adj, in_adj = build_directed_adj(sorted(simple))
    comps = tarjan_scc(out_adj)
    giant = sorted(comps, key=lambda c: (-len(c), min(c)))[0]
    core = set(giant)

    def reach(adj, seeds):
        seen = set(seeds)
        frontier = list(seeds)
        while frontier:
            nxt = []
            for u in frontier:
                for w in adj.get(u, ()):
                    if w not in seen:
                        seen.add(w)
                        nxt.append(w)
            frontier = nxt
        return seen - seeds

    out_reach = reach(out_adj, core)
    in_reach = reach(in_adj, core)
    und = {u: out_adj[u] | in_adj[u] for u in out_adj}
    core_wcc = reach(und, {min(core)}) | {min(core)}

    cats = {}
    for v in out_adj:
        if v in core:
            cats[v] = "CORE"
        elif v in in_reach:
            cats[v] = "IN"
        elif v in out_reach:
            cats[v] = "OUT"
        elif v in core_wcc:
            cats[v] = "TENDRIL_TUBE"
        else:
            cats[v] = "DISCONNECTED"
    return cats


def anf_harmonic(adj, rounds, k):
    """Sequential HyperBall-harmonic oracle (mirrors
    operators/anf.py:anf_harmonic_centrality): per-vertex FM ball
    estimates per round, then H(v) = sum_t (est_t - est_{t-1})/t with
    increasing-t left-associated accumulation (bit-identical to the
    distributed fixed-order expression)."""
    ests = []
    for t in range(rounds + 1):
        st = anf_sketches(adj, t, k)
        ests.append({v: anf_estimate(regs) for v, regs in st.items()})
    out = {}
    for v in adj:
        acc = 0.0
        for t in range(1, rounds + 1):
            acc = acc + (ests[t][v] - ests[t - 1][v]) / float(t)
        out[v] = acc
    return out


def kahn_levels(edges):
    """Sequential Kahn topological layering (oracle for
    operators/dag.py:topological_levels): level(v) = round at which v's
    in-degree reaches 0, i.e. the longest-path distance from the DAG's
    sources.  Raises ValueError on a cycle — the constructive form of
    the reference's is_acyclic check (simple_directed_graph.rs:25-43)."""
    out_adj = defaultdict(set)
    indeg = defaultdict(int)
    verts = set()
    for s, t in set(edges):
        if t not in out_adj[s]:
            out_adj[s].add(t)
            indeg[t] += 1
        verts.add(s)
        verts.add(t)
    frontier = sorted(v for v in verts if indeg[v] == 0)
    levels = {}
    level = 0
    settled = 0
    while frontier:
        nxt = []
        for v in frontier:
            levels[v] = level
            settled += 1
            for u in out_adj[v]:
                indeg[u] -= 1
                if indeg[u] == 0:
                    nxt.append(u)
        frontier = sorted(nxt)
        level += 1
    if settled != len(verts):
        raise ValueError(
            f"kahn_levels: cycle detected - {len(verts) - settled} "
            "vertices never reach in-degree 0"
        )
    return levels


def kruskal_msf(weighted_edges):
    """Sequential Kruskal minimum-spanning-forest oracle (for
    operators/mst.py:minimum_spanning_forest): edges ordered by the
    strict total key (weight, a, b) with a=min(src,dst), b=max — the
    same composite order the distributed Boruvka uses, so the unique
    MSF matches edge-for-edge.  Returns sorted [(a, b, w)]."""
    canon = {}
    for s, t, w in weighted_edges:
        if s == t:
            continue
        a, b = (s, t) if s < t else (t, s)
        if (a, b) not in canon or w < canon[(a, b)]:
            canon[(a, b)] = w
    parent = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    forest = []
    for w, a, b in sorted((w, a, b) for (a, b), w in canon.items()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            forest.append((a, b, w))
    return sorted(forest)


def seeded_walks(adj, walks_per_vertex, length, seed):
    """Sequential deterministic-walk oracle (for
    operators/walks.py:random_walks): same md5-derived neighbor pick
    over the same sorted neighbor lists, so rows match the distributed
    output exactly.  Walks traverse the SIMPLE graph — self-loops are
    dropped, matching the operator's canonical adjacency.  Returns
    [(start, walk, step, v)]."""
    import hashlib

    rows = []
    nbrs = {
        v: sorted(n for n in ns if n != v) for v, ns in adj.items()
    }
    # a vertex with no simple-graph neighbors has no adjacency row on the
    # distributed side, so it is not a walk start there either
    for start in sorted(v for v in nbrs if nbrs[v]):
        for r in range(walks_per_vertex):
            cur = start
            rows.append((start, r, 0, cur))
            for i in range(1, length + 1):
                ns = nbrs.get(cur)
                if not ns:
                    break
                h = hashlib.md5(
                    f"{seed}|{start}|{r}|{i}|{cur}".encode()
                ).hexdigest()
                cur = ns[int(h[:15], 16) % len(ns)]
                rows.append((start, r, i, cur))
    return rows


def luby_mis(adj, seed=0):
    """Sequential mirror of operators/mis.py:luby_mis — same md5 priority
    order, same round structure, so members AND join rounds match the
    distributed output exactly.  Self-loops are ignored (the operator's
    canonical form drops them).  Returns {v: mis_round}."""
    import hashlib

    nbrs = {v: {n for n in ns if n != v} for v, ns in adj.items()}
    active = set(nbrs)
    out = {}
    rnd = 0
    while active:
        pri = {
            v: (hashlib.md5(f"{seed}:{rnd}:{v}".encode()).hexdigest(), v)
            for v in active
        }
        winners = {
            v
            for v in active
            if all(pri[v] < pri[u] for u in nbrs[v] if u in active)
        }
        removed = set(winners)
        for v in winners:
            out[v] = rnd
            removed |= nbrs[v] & active
        active -= removed
        rnd += 1
    return out


def node2vec_seeded_walks(adj, walks_per_vertex, length, p, q, seed):
    """Sequential mirror of operators/walks.py:node2vec_walks — same
    md5-derived uniform step 1, same inverse-CDF biased pick with the
    cumulative weights folded in ascending-neighbor order, so every float
    op is the same IEEE sequence as the distributed window sum.  Returns
    [(start, walk, step, v)]."""
    import hashlib

    nbrs = {v: sorted(n for n in ns if n != v) for v, ns in adj.items()}
    nsets = {v: set(ns) for v, ns in nbrs.items()}
    rows = []
    for start in sorted(v for v in nbrs if nbrs[v]):
        for r in range(walks_per_vertex):
            cur = start
            rows.append((start, r, 0, cur))
            if length < 1:
                continue
            ns = nbrs[cur]
            h = hashlib.md5(f"{seed}|{start}|{r}|1|{cur}".encode()).hexdigest()
            prev, cur = cur, ns[int(h[:15], 16) % len(ns)]
            rows.append((start, r, 1, cur))
            for i in range(2, length + 1):
                ns = nbrs.get(cur)
                if not ns:
                    break
                cum = []
                acc = 0.0
                for x in ns:
                    if x == prev:
                        wt = 1.0 / p
                    elif x in nsets[prev]:
                        wt = 1.0
                    else:
                        wt = 1.0 / q
                    acc = acc + wt
                    cum.append(acc)
                total = cum[-1]
                u = (
                    int(
                        hashlib.md5(
                            f"{seed}|{start}|{r}|{i}|{prev}|{cur}".encode()
                        ).hexdigest()[:15],
                        16,
                    )
                    / float(16 ** 15)
                )
                thr = u * total
                pick = next(
                    j for j, c in enumerate(cum) if c > thr
                )
                prev, cur = cur, ns[pick]
                rows.append((start, r, i, cur))
    return rows


def trussness(adj):
    """Sequential mirror of operators/coreness.py:trussness — identical
    batch-round peel (drops labeled per stage, triangles counted the
    round their first edge drops, distinct triples), so trussness labels
    match the distributed output exactly.  Returns {(src, dst): k} over
    canonical (src < dst) simple edges."""
    nbrs = {v: {u for u in ns if u != v} for v, ns in adj.items()}
    remaining = {(a, b) for a in nbrs for b in nbrs[a] if a < b}
    sup = {(a, b): len(nbrs[a] & nbrs[b]) for (a, b) in remaining}
    out = {}
    k = 3
    while remaining:
        drop = {e for e in remaining if sup[e] < k - 2}
        if not drop:
            k = min(sup[e] for e in remaining) + 3
            continue
        tris = set()
        for u, w in drop:
            for a in nbrs[u] & nbrs[w]:
                tris.add(tuple(sorted((u, w, a))))
        for e in drop:
            remaining.discard(e)
            out[e] = k - 1
            a, b = e
            nbrs[a].discard(b)
            nbrs[b].discard(a)
        for x, y, z in tris:
            for e in ((x, y), (x, z), (y, z)):
                if e in remaining:
                    sup[e] -= 1
    return out


def bellman_ford_rounds(weighted_edges, source):
    """Sequential round-synchronous mirror of
    operators/sssp.py:weighted_sssp: dist = min total weight from the
    source, hops = the round the label-correcting fixpoint last improved
    the vertex (= edge count of the minimum-hop optimal path).  Input is
    a directed (src, dst, weight) triple list; pass both directions for
    undirected graphs.  Returns {v: (dist, hops)}."""
    adj = {}
    for s, t, w in weighted_edges:
        adj.setdefault(s, []).append((t, float(w)))
    state = {source: (0.0, 0)}
    frontier = {source}
    rnd = 0
    while frontier:
        rnd += 1
        best = {}
        for u in frontier:
            du = state[u][0]
            for t, w in adj.get(u, ()):
                cand = du + w
                if t not in best or cand < best[t]:
                    best[t] = cand
        frontier = set()
        for v, cand in best.items():
            if v not in state or cand < state[v][0]:
                state[v] = (cand, rnd)
                frontier.add(v)
    return state


# ---------------------------------------------------------------------------
# Biconnectivity: articulation points + bridges (Tarjan/Hopcroft lowlink).
# The reference's connectivity family (connectivity.rs:22-83,
# connected_components.rs:26-76) answers "is it connected"; the natural
# next question for a link graph is "where does connectivity HINGE" —
# which vertices / edges are single points of failure.  Iterative DFS so
# 10^5-node per-graph batches don't hit Python's recursion limit.


def cut_vertices_and_bridges(adj):
    """Undirected {node: set(neighbors)} -> (articulation_points: set,
    bridges: set of (min, max) edges).  Self-loops are ignored (a
    self-loop is never a bridge and never makes its vertex a cut
    vertex).  Simple-graph input (build_undirected_adj dedups), so the
    one-parent-skip per DFS child is exact — no parallel edges."""
    disc: dict = {}
    low: dict = {}
    cuts: set = set()
    bridges: set = set()
    timer = 0
    for root in sorted(adj):
        if root in disc:
            continue
        root_children = 0
        # stack frames: (v, parent, iterator over neighbors)
        disc[root] = low[root] = timer
        timer += 1
        stack = [(root, None, iter(sorted(adj[root])))]
        while stack:
            v, parent, it = stack[-1]
            advanced = False
            for w in it:
                if w == v or w == parent:
                    continue  # self-loop / the tree edge back to parent
                if w in disc:
                    low[v] = min(low[v], disc[w])  # back edge
                    continue
                disc[w] = low[w] = timer
                timer += 1
                if v == root:
                    root_children += 1
                stack.append((w, v, iter(sorted(adj[w]))))
                advanced = True
                break
            if not advanced:
                stack.pop()
                if parent is not None:
                    low[parent] = min(low[parent], low[v])
                    if low[v] > disc[parent]:
                        bridges.add((min(parent, v), max(parent, v)))
                    if parent != root and low[v] >= disc[parent]:
                        cuts.add(parent)
        if root_children >= 2:
            cuts.add(root)
    return cuts, bridges


def jp_coloring(adj, seed=0):
    """Sequential mirror of operators/coloring.py:jp_coloring — same fixed
    md5 priority order, same round structure, so colors AND rounds match
    the distributed output exactly.  Self-loops are ignored.  Returns
    {v: (color, jp_round)}."""
    import hashlib

    nbrs = {v: {n for n in ns if n != v} for v, ns in adj.items()}
    pri = {
        v: (hashlib.md5(f"{seed}:{v}".encode()).hexdigest(), v)
        for v in nbrs
    }
    active = set(nbrs)
    out = {}
    rnd = 0
    while active:
        winners = {
            v
            for v in active
            if all(pri[v] < pri[u] for u in nbrs[v] if u in active)
        }
        # adjacent vertices never both win, so coloring winners in any
        # order within the round is conflict-free
        for v in winners:
            used = {out[u][0] for u in nbrs[v] if u in out}
            c = 0
            while c in used:
                c += 1
            out[v] = (c, rnd)
        active -= winners
        rnd += 1
    return out


def kmeans_lloyd_int(vectors, k=8, iters=5, seed=0):
    """Sequential mirror of operators/kmeans.py:kmeans_lloyd — same
    micro-unit quantization, same seeded init, same truncated integer
    centroid division, so assignments match the distributed output
    exactly.  ``vectors``: {id: list[float]}.  Returns {id: cluster}."""
    import hashlib
    import math

    ids = sorted(vectors)
    q = {
        i: [int(math.floor(float(x) * 1e6 + 0.5)) for x in vectors[i]]
        for i in ids
    }
    ranked = sorted(
        ids,
        key=lambda i: (hashlib.md5(f"{seed}:{i}".encode()).hexdigest(), i),
    )
    cents = [list(q[i]) for i in ranked[:k]]

    def trunc_div(s, n):
        d = abs(s) // n
        return d if s >= 0 else -d

    def assign_all():
        out = {}
        for i in ids:
            x = q[i]
            best = None
            for c, cv in enumerate(cents):
                d2 = sum((xa - ca) * (xa - ca) for xa, ca in zip(x, cv))
                if best is None or d2 < best[0]:
                    best = (d2, c)
            out[i] = best[1]
        return out

    for _ in range(iters):
        a = assign_all()
        for c in range(len(cents)):
            members = [q[i] for i in ids if a[i] == c]
            if not members:
                continue  # empty cluster keeps its centroid
            n = len(members)
            cents[c] = [
                trunc_div(sum(m[d] for m in members), n)
                for d in range(len(cents[c]))
            ]
    return assign_all()


def salsa(edges, max_iter=8):
    """Sequential SALSA oracle (Lempel & Moran, WWW9 2000; mirrors
    operators/salsa.py): directed (src, dst) pairs -> {v: (hub, auth)}.
    Messages divide by the integer local degree — the exact double op
    the distributed operator performs — from the uniform authority
    start.  Edge multiplicity counts as weight."""
    edges = list(edges)
    if not edges:
        raise ValueError("salsa: empty edge table")
    verts = sorted({v for e in edges for v in e})
    outd: dict = {}
    ind: dict = {}
    for s, t in edges:
        outd[s] = outd.get(s, 0) + 1
        ind[t] = ind.get(t, 0) + 1
    n_auth = len(ind)
    a = {v: (1.0 / n_auth if v in ind else 0.0) for v in verts}
    h = {v: 0.0 for v in verts}
    for _ in range(max_iter):
        h = {v: 0.0 for v in verts}
        for s, t in edges:
            h[s] += a[t] / ind[t]
        a = {v: 0.0 for v in verts}
        for s, t in edges:
            a[t] += h[s] / outd[s]
    return {v: (h[v], a[v]) for v in verts}


def greedy_matching(edges):
    """Sequential mirror of operators/matching.py:greedy_matching — a
    single greedy scan of canonical edges in (md5(f"{a}|{b}"), a, b)
    order.  Under a STATIC priority order the distributed local-minima
    rounds compute exactly this lexicographically-first maximal matching.
    Returns sorted [(a, b)]."""
    import hashlib

    canon = {(min(s, t), max(s, t)) for s, t in edges if s != t}
    order = sorted(
        (hashlib.md5(f"{a}|{b}".encode()).hexdigest(), a, b)
        for a, b in canon
    )
    matched: set = set()
    out = []
    for _, a, b in order:
        if a not in matched and b not in matched:
            matched.add(a)
            matched.add(b)
            out.append((a, b))
    return sorted(out)


def double_sweep_diameter(adj):
    """Sequential mirror of operators/paths.py:double_sweep_diameter —
    BFS from min vertex, re-BFS from the farthest (tie: min id).
    Self-loops ignored.  Returns (sweep1_source, sweep2_source, bound)."""
    from collections import deque

    nbrs = {v: {n for n in ns if n != v} for v, ns in adj.items()}
    nbrs = {v: ns for v, ns in nbrs.items() if ns}

    def bfs(s):
        dist = {s: 0}
        dq = deque([s])
        while dq:
            u = dq.popleft()
            for w in nbrs[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    dq.append(w)
        return dist

    s1 = min(nbrs)
    d1 = bfs(s1)
    s2 = sorted(d1.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    return s1, s2, max(bfs(s2).values())


def louvain_moves(adj, max_rounds=6):
    """Sequential mirror of operators/louvain.py:louvain_moves — same
    integer gain key 2m*e(v,C) - deg(v)*vol(C\\v), same (key desc, c asc)
    tie-break, same md5-parity move gate, same FIXED round count (no
    early exit: a quiet round only proves the gated half was stable), so
    the labels match the distributed output exactly.  Self-loops
    ignored.  Returns {v: community}."""
    import hashlib

    nbrs = {v: sorted(n for n in ns if n != v) for v, ns in adj.items()}
    nbrs = {v: ns for v, ns in nbrs.items() if ns}
    m = sum(len(ns) for ns in nbrs.values()) // 2
    if m == 0:
        raise ValueError("louvain_moves: empty edge table")
    deg = {v: len(ns) for v, ns in nbrs.items()}
    labels = {v: v for v in nbrs}
    for rnd in range(max_rounds):
        vol: dict = {}
        for v, c in labels.items():
            vol[c] = vol.get(c, 0) + deg[v]
        new_labels = {}
        for v, ns in nbrs.items():
            gated = (
                int(hashlib.md5(f"{rnd}:{v}".encode()).hexdigest()[:15], 16)
                % 2
                == 0
            )
            if not gated:
                new_labels[v] = labels[v]
                continue
            evc: dict = {labels[v]: 0}
            for u in ns:
                evc[labels[u]] = evc.get(labels[u], 0) + 1
            best = None
            for c, e in evc.items():
                volx = vol[c] - (deg[v] if c == labels[v] else 0)
                key = (-(2 * m * e - deg[v] * volx), c)
                if best is None or key < best:
                    best = key
            new_labels[v] = best[1]
        labels = new_labels
    return labels


def modularity_of(adj, labels):
    """Sequential mirror of operators/louvain.py:modularity — exact
    integer numerator/denominator, same single IEEE division.  Returns
    (n_communities, q_num, q_den, modularity)."""
    nbrs = {v: {n for n in ns if n != v} for v, ns in adj.items()}
    canon = {(min(v, u), max(v, u)) for v, ns in nbrs.items() for u in ns}
    m = len(canon)
    if m == 0:
        raise ValueError("modularity_of: empty edge table")
    deg = {v: len(ns) for v, ns in nbrs.items() if ns}
    e_in: dict = {}
    for a, b in canon:
        if labels[a] == labels[b]:
            e_in[labels[a]] = e_in.get(labels[a], 0) + 1
    vol: dict = {}
    for v, d in deg.items():
        vol[labels[v]] = vol.get(labels[v], 0) + d
    q_num = sum(4 * m * e_in.get(c, 0) - vol[c] * vol[c] for c in vol)
    q_den = 4 * m * m
    return len(vol), q_num, q_den, q_num / q_den
