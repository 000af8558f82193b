"""CLI front-end (reference A7): spelling correction over a plain-text
dictionary file, exact candidate sets and distances."""

from __future__ import annotations

from pathlib import Path


def test_tests_import_their_own_checkout():
    """conftest puts this checkout first on sys.path, so a copy of the repo
    tests its own package, not one at some fixed path."""
    import liblevenshtein_spark

    repo = Path(__file__).resolve().parents[1]
    assert Path(liblevenshtein_spark.__file__).resolve().is_relative_to(repo)


def test_executors_get_this_checkouts_package():
    """The zip shipped to executors is built from this checkout, even when
    another checkout built its zip later than these sources were written."""
    import zipfile

    from liblevenshtein_spark import session

    with zipfile.ZipFile(session.build_pyfiles_zip()) as zf:
        shipped = zf.read("liblevenshtein_spark/session.py")
    assert shipped == Path(session.__file__).read_bytes()


def test_cli_spelling_correction(spark, tmp_path, capsys, monkeypatch):
    from liblevenshtein_spark import cli

    dict_file = tmp_path / "terms.txt"
    dict_file.write_text("kitten\nsitting\nmitten\nsmitten\nmittens\n")
    # build_session getOrCreate()s into the test session; stop() is a no-op
    # we must avoid so later tests keep their fixture
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    cli.main(["--dictionary", str(dict_file), "-n", "2", "mitten", "kiten"])
    out = [tuple(l.split("\t")) for l in capsys.readouterr().out.strip().splitlines()]
    assert out == [
        ("kiten", "kitten", "1"),
        ("kiten", "mitten", "2"),
        ("mitten", "mitten", "0"),
        ("mitten", "kitten", "1"),
        ("mitten", "mittens", "1"),
        ("mitten", "smitten", "1"),
    ]


def test_cli_binary_dictionary_and_utf16(spark, tmp_path, capsys, monkeypatch):
    """--format binary routes the LLD1 serializer into the CLI; --units
    utf16 switches to Java code-unit semantics (the astral term is 2 units,
    so it leaves the n=1 result set that code-point mode includes it in)."""
    from liblevenshtein_spark import cli
    from liblevenshtein_spark.sources.dictionary_io import write_terms_binary

    terms = ["kitten", "mitten", "x\U0001D49C"]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    path = str(tmp_path / "dict_lld")
    write_terms_binary(df, path, num_files=2)
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)

    cli.main(["--dictionary", path, "--format", "binary", "-n", "1", "kiten"])
    out = [tuple(l.split("\t")) for l in capsys.readouterr().out.strip().splitlines()]
    assert out == [("kiten", "kitten", "1")]

    # code points: 'xy' -> 'x𝒜' is one substitution
    cli.main(["--dictionary", path, "--format", "binary", "-n", "1", "xy"])
    out = [tuple(l.split("\t")) for l in capsys.readouterr().out.strip().splitlines()]
    assert out == [("xy", "x\U0001D49C", "1")]

    # UTF-16 units: same pair is sub+insert = 2 > 1 -> no candidates
    cli.main(["--dictionary", path, "--format", "binary", "--units", "utf16",
              "-n", "1", "xy"])
    assert capsys.readouterr().out.strip() == ""
