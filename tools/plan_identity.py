"""Plan identity: normalised execution dumps of registry queries.

A refactor that must change no plan is checked by running each query in
the parent checkout and in the change, dumping every SQL execution the
query starts (construction-time `materialize`/collect/write ones
included), normalising run-specific ids, and comparing digests plus a
result hash.

    python tools/plan_identity.py ROOT SF OUT [names|modules]

ROOT is the checkout whose package is imported (the parent one is
extracted with `git archive <parent> | tar -x -C <dir>`), SF the data
directory, OUT the JSON file written; the optional trailing arguments
keep only the named queries or the queries of the named plan modules.
Run it once per checkout and SF with `PYTHONPATH=<checkout>` from the
same cwd (the warehouse path is cwd-relative), and diff the JSON files.

Per query the JSON holds the row count, a hash of the normalised result
rows, the number of executions, and digests of the normalised plans:
`initial_*` cover the plans the code built (AQE final plans cut),
`plans_*` the executed AQE final plans; `*_ordered` in start order,
`*_multiset` sorted (pooled actions start in either order).
"""

import hashlib
import json
import re
import sys

NORM = [(r"(file:)?/tmp/[^\s,\])\"']*", "<TMP>"),
        (r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<UUID>"), (r"#\d+", "#N"),
        (r"\[codegen id : \d+\]", "[codegen id : N]"), (r"plan_id=\d+", "plan_id=N"),
        (r"RDD\[\d+\]", "RDD[N]"), (r"(\w)@[0-9a-f]{4,8}\b", r"\1@H"),  # object ids
        (r"(QueryStage\n(?:[^\n]+\n)*?Arguments: )\d+", r"\1N"),  # AQE stage ids
        (r"(input_file_name\(\), \^file:/\+, /, 1\), )\d+", r"\1N"),  # pid-length path
        (r"\b(msdw_\w+_[0-9a-f]{8})_\d+\b", r"\1_<PID>")]  # per-process catalog names


def norm(p, root):
    for rx, to in [(re.escape(root), "<ROOT>")] + NORM: p = re.sub(rx, to, p)
    # PySpark names a Python lambda's variables from one per-process
    # counter (`lambda x_12`): renumber them in order of first appearance
    ren = {}
    return re.sub(r"lambda (\w+?)_\d+\b", lambda m: "lambda %s_%d" % (
        m.group(1), ren.setdefault(m.group(0), len(ren) + 1)), p)


def initial(p):  # cut each AQE Final Plan, renumber operators in tree order
    if "== Final Plan ==" not in p: return p
    tree, _, details = p.partition("\n\n\n"); keep, cut = [], False
    for line in tree.split("\n"):
        m = re.match(r"\s*\+- == (Final|Initial) Plan ==", line)
        if m: cut = m.group(1) == "Final"
        elif not cut: keep.append(line)
    ids = list(dict.fromkeys(re.findall(r"\((\d+)\)", "\n".join(keep))))
    ren = {o: str(n + 1) for n, o in enumerate(ids)}
    sub = lambda s: re.sub(r"\((\d+)\)", lambda m: f"({ren.get(m.group(1), '?')})", s)
    blocks = {b.split(")")[0][1:]: b for b in details.split("\n\n") if re.match(r"\(\d+\) ", b)}
    return "\n\n".join([sub("\n".join(keep))] + [sub(re.sub(
        r" \[codegen id : N\]|\nArguments: isFinalPlan=\w+", "", blocks.get(o, o))) for o in ids])


def main(argv):
    ROOT, SF, OUT = argv[:3]; ONLY = set(argv[3:])  # module or query names
    sys.path[:0] = [ROOT, ROOT + "/tools"]
    from myserver_datawarehouse_spark import registry
    from myserver_datawarehouse_spark.session import get_spark
    from verify_local import norm_rows
    spark = get_spark("ident")
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    def execs():  # (id, plan) of every retained execution, once the listener bus drained
        bus.waitUntilEmpty(); xs = store.executionsList()
        return [(xs.apply(i).executionId(), xs.apply(i).physicalPlanDescription()) for i in range(xs.size())]
    dig = lambda xs: hashlib.sha256("\n\0".join(xs).encode()).hexdigest()[:16]
    res = {}
    for s in registry.specs():
        if ONLY and s.name not in ONLY and s.spark.__module__.rsplit(".", 1)[-1] not in ONLY:
            continue
        lo = max([i for i, _ in execs()], default=-1)
        pdf = s.spark(spark, SF).toPandas()
        cols, rows = norm_rows(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))
        plans = [norm(p, ROOT) for i, p in sorted(execs()) if i > lo]
        ini = [initial(p) for p in plans]
        res[s.name] = {"rows": len(rows), "result": dig([repr((cols, rows))]),
                       "executions": len(plans), "plans_ordered": dig(plans),
                       "plans_multiset": dig(sorted(plans)), "initial_ordered": dig(ini),
                       "initial_multiset": dig(sorted(ini))}
        print(s.name, res[s.name], flush=True)
    json.dump(res, open(OUT, "w"), indent=1, sort_keys=True)


if __name__ == "__main__":
    main(sys.argv[1:])
