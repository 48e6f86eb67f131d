"""Executed-plan walking + SQL-metric scraping, shared by every
consumer that reads runtime numbers out of an adaptive plan (the
window-waiver audit, the Z-order pruning test, tools/scale_probe.py).
One place to absorb a Spark version renaming a QueryStage node or a
metric key — previously three near-identical recursive walkers.
"""

from __future__ import annotations


def unwrap(node):
    """Peel AdaptiveSparkPlan / QueryStage wrappers to the real node."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return unwrap(node.executedPlan())
    if "QueryStage" in name:
        return unwrap(node.plan())
    return node


def children(node):
    ch = node.children()
    return [ch.apply(i) for i in range(ch.length())]


def iter_nodes(node):
    """Every node in the EXECUTED plan, wrappers unwrapped."""
    node = unwrap(node)
    yield node
    for c in children(node):
        yield from iter_nodes(c)


def metrics(node) -> dict:
    """A node's SQL metrics as {short_name: value}."""
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def scan_metric_sum(df, keys=("numFiles", "numOutputRows", "filesSize")) -> dict:
    """Execute ``df`` and sum the requested metrics over every Scan
    node in the final adaptive plan — the honest 'what did the storage
    layer actually serve' numbers (row-group pruning shows up in a
    scan's numOutputRows; numFiles stays constant for unpartitioned
    dirs because every footer is still read)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    out: dict = {}
    for node in iter_nodes(plan):
        if "Scan" in node.nodeName():
            m = metrics(node)
            for k in keys:
                if k in m:
                    out[k] = out.get(k, 0) + m[k]
    return out


def shuffle_totals(qe) -> dict:
    """Shuffle bytes and records written, summed over every Exchange in
    an executed QueryExecution's final plan — the figure that becomes
    the network bill on a cluster."""
    out = {"shuffle_bytes": 0, "shuffle_records": 0, "n_exchanges": 0}
    for node in iter_nodes(qe.executedPlan()):
        if "Exchange" not in node.nodeName():
            continue
        m = metrics(node)
        if "shuffleBytesWritten" in m:
            out["n_exchanges"] += 1
            out["shuffle_bytes"] += int(m["shuffleBytesWritten"])
            out["shuffle_records"] += int(m.get("shuffleRecordsWritten", 0))
    return out
