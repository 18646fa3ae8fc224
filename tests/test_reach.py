"""Every top-level definition in ``warcio_spark/`` has a caller outside
the tests.

A definition (def, class or assignment at module level) counts as
reached when its name is read, as a Name or an Attribute, anywhere in
``warcio_spark/``, ``scripts/``, ``perfbench/``, ``bench*.py`` or
``__spark_entry__.py`` outside its own body. Import lines, strings and
docstrings do not count, and no module dispatches by ``getattr`` or by
string. The only unreached definitions allowed are the ones ``KEPT``
names, each with the reason it stays; an entry that is no longer
defined, or that has gained a caller, fails the test too, so the list
cannot go stale. Pure ``ast``: no Spark.
"""

import ast
import os

from conftest import REPO

ENGINE = "warcio_spark"

# module path (dotted, relative to warcio_spark) + "." + name
KEPT = {
    # only tests that need warcio or /root/reference cover these; they are
    # the byte-identity evidence for when the reference is back
    "reference-dependent tests": {
        "operators.writer.add_ip_headers",
        "operators.writer.to_warc_members",
        "operators.writer.extract_at_offset",
        "operators.writer.pair_request_response",
        "operators.checker.truncation_census",
        "operators.dedup.substitute_revisits_against_index",
        "plans.revalidate.not_modified_revisits",
        "sources.storage.write_records_table",
        "sources.storage.responses_only",
        "sources.incremental.read_ingested_records",
        "kernels.digests.verify_payload",
        "kernels.chrono.iso_to_ts14",
        "kernels.chrono.http_date_to_ts14",
        "kernels.chrono.ts14_to_http_date",
        "kernels.chrono.ts14_to_sec",
        "kernels.chrono.sec_to_ts14",
    },
    # the simple form a test compares a reached operator against
    "reference forms tests compare against": {
        "operators.similarity.lsh_topk",          # for lsh_topk_pruned
        "operators.dedup.dedup_by_pairs",         # for dedup_keep_best
        "operators.dedup.minhash_signature",
        "operators.dedup.simhash_near_pairs",
        "kernels.build.serialize_records",
    },
    # the seen-set layout (ROADMAP direction 2) is their planned caller
    "bucketed storage": {
        "sources.storage.write_bucketed_table",
        "sources.storage.bucketed_join",
    },
    "README public readers": {
        "sources.warc.read_warc_ranges",
        "sources.warc.pages_from_records",
    },
    "writer record builders": {
        "kernels.build.build_revisit_record",
        "kernels.build.build_warcinfo_record",
    },
    # library surface documented in README.md / COVERAGE.md, each with a
    # live test; no query, crawl, script or perfbench run calls it yet
    "documented library surface with live tests": {
        "functions.fix_target_uri",
        "functions.sniff_charset",
        "functions.decode_with_charset",
        "operators.links.redirect_candidates",
        "operators.links.seeds_from_sitemaps",
        "operators.multimodal.MEDIA_SCHEMA",
        "plans.retry.retry_due",
        "sources.cdx_table.write_cdx_table",
        "sources.cdx_table.read_cdx_table",
        "sources.cdx_table.cdx_table_scope",
        "sources.remote_fs.register_filesystem",
        "sources.pages.synth_robots_pages",
    },
}


def _py_files(top):
    for root, dirs, files in os.walk(top):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _caller_files():
    yield from _py_files(os.path.join(REPO, ENGINE))
    yield from _py_files(os.path.join(REPO, "scripts"))
    yield from _py_files(os.path.join(REPO, "perfbench"))
    for f in sorted(os.listdir(REPO)):
        if (f.startswith("bench") and f.endswith(".py")) \
                or f == "__spark_entry__.py":
            yield os.path.join(REPO, f)


def _reads(node):
    """Count of each name read (Load context) as a Name or Attribute."""
    out = {}
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out[n.id] = out.get(n.id, 0) + 1
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            out[n.attr] = out.get(n.attr, 0) + 1
    return out


def _top_level(body):
    """(name, node) per module-level def, class or assignment target,
    looking through top-level if/try blocks."""
    for n in body:
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                          ast.ClassDef)):
            yield n.name, n
        elif isinstance(n, (ast.Assign, ast.AnnAssign)):
            targets = n.targets if isinstance(n, ast.Assign) else [n.target]
            for t in targets:
                for x in ast.walk(t):
                    if isinstance(x, ast.Name):
                        yield x.id, n
        elif isinstance(n, (ast.If, ast.Try)):
            blocks = [n.body, n.orelse, getattr(n, "finalbody", [])]
            blocks += [h.body for h in getattr(n, "handlers", [])]
            for b in blocks:
                yield from _top_level(b)


def _scan():
    """(unreached, defined): dotted names of the engine definitions no
    caller reads, and of every engine definition."""
    reads, defs = {}, []
    engine_root = os.path.join(REPO, ENGINE)
    for path in _caller_files():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for name, n in _reads(tree).items():
            reads[name] = reads.get(name, 0) + n
        if path.startswith(engine_root + os.sep):
            mod = os.path.relpath(path, engine_root)[:-3].replace(os.sep, ".")
            mod = mod[:-len(".__init__")] if mod.endswith(".__init__") else mod
            for name, node in _top_level(tree.body):
                defs.append((mod + "." + name, name, _reads(node).get(name, 0)))
    unreached = {
        dotted for dotted, name, own in defs
        if not (name.startswith("__") and name.endswith("__"))
        and reads.get(name, 0) - own <= 0
    }
    return unreached, {dotted for dotted, _, _ in defs}


def test_every_engine_definition_is_reached_or_kept():
    unreached, defined = _scan()
    kept = [k for group in KEPT.values() for k in group]
    assert len(kept) == len(set(kept)), "a name is in two KEPT groups"
    assert sorted(unreached - set(kept)) == [], (
        "engine definitions only tests reach: give each a caller, delete "
        "it with its tests, or add it to KEPT with the reason it stays")
    assert sorted(set(kept) - defined) == [], "KEPT names a deleted definition"
    assert sorted(set(kept) - unreached) == [], (
        "KEPT names a definition that now has a caller: drop the entry")
