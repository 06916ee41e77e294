import gen


def _bytes(tmp_path, name, seed, n):
    d = gen.write(tmp_path / name, seed, n)
    return {f.name: f.read_bytes() for f in sorted(d.iterdir())}


def test_same_seed_same_bytes(tmp_path):
    assert _bytes(tmp_path, "a", 5, 400) == _bytes(tmp_path, "b", 5, 400)


def test_other_seed_changes_content_not_shape():
    a, b = gen.tables(5, 400), gen.tables(6, 400)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].schema == b[name].schema
        assert a[name].num_rows == b[name].num_rows
    assert a["documents"]["text"] != b["documents"]["text"]
    words = lambda t: {w for x in t["documents"]["text"].to_pylist() for w in x.split()}  # noqa: E731
    assert words(a) == words(b) == set(gen.VOCAB) | {gen.DUP_WORD}


def test_near_duplicates_repeat_an_earlier_text():
    docs = gen.tables(1, 400)["documents"]["text"].to_pylist()
    dups = [t for t in docs if t.endswith(" " + gen.DUP_WORD)]
    assert len(dups) == int(400 * gen.NEAR_DUP_FRAC)
    assert all(t[: -len(gen.DUP_WORD) - 1] in docs for t in dups)
