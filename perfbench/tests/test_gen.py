import filecmp
import json
import os
import re

import gen


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, n), root) for d, _, names in os.walk(root) for n in names
    )


def test_same_seed_same_bytes(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    ma, mb = gen.generate(7, str(a)), gen.generate(7, str(b))
    assert ma == mb
    names = _files(a)
    assert names == _files(b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors


def test_other_seed_other_corpus(tmp_path):
    gen.generate(7, str(tmp_path / "a"))
    gen.generate(8, str(tmp_path / "b"))
    assert not filecmp.cmp(
        tmp_path / "a/corpus/corpus.trec", tmp_path / "b/corpus/corpus.trec", shallow=False
    )


def test_sizes_and_shapes(tmp_path):
    import pyarrow.parquet as pq

    m = gen.generate(3, str(tmp_path))
    assert m["ops"]["count"] == gen.LOOP_OPS
    assert m["corpus"]["docs"] == gen.BASE_DOCS * gen.REPLICAS
    docs = pq.ParquetFile(tmp_path / "corpus/documents.parquet")
    assert docs.metadata.num_row_groups == 1
    assert docs.metadata.num_rows == m["corpus"]["docs"]
    batches = sorted(os.listdir(tmp_path / "stream"))
    assert len(batches) == gen.STREAM_BATCHES
    mtimes = [os.path.getmtime(tmp_path / "stream" / f) for f in batches]
    assert mtimes == sorted(set(mtimes))
    ids = [pq.read_table(tmp_path / "stream" / f)["doc_id"].to_pylist() for f in batches]
    assert all(len(x) == gen.STREAM_BATCH_DOCS for x in ids)
    assert all(i // gen.ID_STRIDE == gen.STREAM_REPLICA for x in ids for i in x)


def test_workloads_match_benchmark_json(tmp_path):
    import workloads

    with open(os.path.join(os.path.dirname(gen.__file__), "..", "BENCHMARK.json")) as f:
        spec = {w["name"]: w["why"] for w in json.load(f)["workloads"]}
    assert gen.generate(3, str(tmp_path))["workloads"] == spec
    assert set(workloads.WORKLOADS) == set(spec)


def test_trec_file_holds_the_parquet_docs(tmp_path):
    import pyarrow.parquet as pq

    gen.generate(4, str(tmp_path))
    text = (tmp_path / "corpus/corpus.trec").read_text()
    trec = re.findall(r"<DOCNO> (\d+) </DOCNO>\n<TEXT>\n(.*?)\n</TEXT>", text, re.S)
    table = pq.read_table(tmp_path / "corpus/documents.parquet")
    assert [(int(i), t) for i, t in trec] == list(
        zip(table["doc_id"].to_pylist(), table["text"].to_pylist())
    )


def test_query_stream_mix(tmp_path):
    gen.generate(5, str(tmp_path))
    ops = json.loads((tmp_path / "ops.json").read_text())["loop"]
    size = len(gen.OP_BLOCK)
    for b in range(0, len(ops) - size + 1, size):
        block = ops[b : b + size]
        assert sorted(
            f"search{len(a)}" if k == "search" else ("prefix" if a.endswith("*") else "suffix")
            for k, a in block
        ) == sorted(gen.OP_BLOCK)
    for kind, arg in ops:
        if kind == "search":
            assert len(set(arg)) == len(arg)
        else:
            assert arg.count("*") == 1 and len(arg) == gen.WILDCARD_AFFIX + 1
