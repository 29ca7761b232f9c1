#!/usr/bin/env python3
"""Self-test of the generator's truth: hand-computed cases for the kernels
and for one small operation, plus determinism and the fixed defect rates.

Run: python3 perfbench/selftest.py   (prints "selftest ok")
"""
import hashlib
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def kernels():
    assert gen.normalize_doi(" https://doi.org/10.5281/zenodo.1. ") == \
        "10.5281/zenodo.1"
    assert gen.valid_doi("10.5281/zenodo.1")
    assert not gen.valid_doi("10.12/x1")          # registrant too short
    assert not gen.valid_doi("10.5555/pb-abcxyz")  # no digit after '/'
    # golden values of the reference's score_name_similarity
    assert gen.name_similarity("James Sridharan", "Vignesh Sridharan") == \
        0.65625
    assert gen.name_similarity("Will Usher", "Will Usher") == 1.0
    assert gen.name_similarity("Usher Will", "Will Usher") == 1.0
    u = gen.mint_uuid("output:10.5555/x.1")
    assert [len(p) for p in u.split("-")] == [8, 4, 4, 4, 12]
    assert u[14] == "5" and u[19] == "8"
    assert gen.repair_name(None, "Anna Berg") == ("Anna", "Berg")
    assert gen.repair_name("A", "Abbott") == ("A", "bbott")
    assert gen.repair_name(None, "Berg") is None


def one_operation():
    """Seed: Anna Berg (ORCID X). One batch of 5 submissions:
      a  -> 3 mentions: "Ann Berg"+X (ORCID, similar), "A Berg" (initial),
            "Carl Dubois"+Y (minted); abstract names country "Lumo"
      a' -> duplicate of a (doi.org prefix)
      b  -> missing payload;  c -> empty results;  bad -> invalid pattern
    """
    wh = gen.Warehouse()
    wh.add_author(("00000000-seed", "Anna", "Berg", "https://orcid.org/X"))
    wh.countries = [("LUM", "Lumo"), ("TOP", "Topa")]
    a, b, c = "10.5555/t.1", "10.5555/t.2", "10.5555/t.3"
    art = {"title": "a study", "abstract": "grid access in Lumo",
           "authors": [
               {"name": "Ann", "surname": "Berg", "orcid": "X", "rank": 1},
               {"name": "A", "surname": "Berg", "orcid": None, "rank": 2},
               {"name": "Carl", "surname": "Dubois", "orcid": "Y",
                "rank": 3}]}
    subs = [a, "https://doi.org/" + a, b, c, "10.12/bad1"]
    report, delta = wh.apply(subs, {a: art, c: None}, {a: 7}, update=False)
    assert report == {
        "submitted_dois": 5, "duplicated_submissions": 1,
        "processed_dois": 3, "new_dois": 3, "existing_dois": 0,
        "updated_existing_dois": 0, "ingested_dois": 1, "metadata_pass": 1,
        "metadata_failure": 2, "valid_pattern_dois": 3,
        "invalid_pattern_dois": 1, "openalex_success": 1,
        "openaire_success": 1}, report
    # "Ann Berg" and "A Berg" both resolve to the seed author: one edge
    assert delta == {"outputs": 1, "authors": 1, "author_of": 2,
                     "refers_to": 1}, delta
    assert ("00000000-seed", gen.mint_uuid("output:" + a)) in wh.author_of
    assert gen.mint_uuid("author:https://orcid.org/Y") in wh.author_uuids
    # an edge digest hashes the table's sorted "src\tdst\n" lines
    edges = wh.edge_digests()
    assert edges["refers_to"] == hashlib.sha256(
        (gen.mint_uuid("output:" + a) + "\tLUM\n").encode()).hexdigest()
    # the identical re-run creates nothing; only b and c, which were never
    # stored, are processed again
    report, delta = wh.apply(subs, {a: art, c: None}, {a: 7}, update=False)
    assert wh.edge_digests() == edges
    assert report["processed_dois"] == 2 and report["existing_dois"] == 1
    assert report["metadata_pass"] == 0
    assert delta == {"outputs": 0, "authors": 0, "author_of": 0,
                     "refers_to": 0}, delta
    # update mode re-processes the existing DOI and creates nothing new
    report, delta = wh.apply(subs, {a: art, c: None}, {a: 8}, update=True)
    assert report["processed_dois"] == 3
    assert report["updated_existing_dois"] == 1
    assert delta == {"outputs": 0, "authors": 0, "author_of": 0,
                     "refers_to": 0}, delta


def generator():
    with tempfile.TemporaryDirectory() as d:
        t1 = gen.make_ingest(7, os.path.join(d, "a"), batches=3)
        t2 = gen.make_ingest(7, os.path.join(d, "b"), batches=3)
        t3 = gen.make_ingest(8, os.path.join(d, "c"), batches=3)
        assert t1["ops"] == t2["ops"], "same seed, different truth"
        assert t1["ops"] != t3["ops"], "seed has no effect"
        n = gen.BATCH_DOIS
        for i, op in enumerate(t1["ops"]):
            r = op["report"]
            assert r["submitted_dois"] == n
            assert r["duplicated_submissions"] == \
                round(n * gen.RATES["duplicate"])
            assert r["invalid_pattern_dois"] == \
                round(n * gen.RATES["invalid"])
            assert r["existing_dois"] == \
                (round(n * gen.RATES["existing"]) if i else 0)
            assert op["delta"]["outputs"] == r["ingested_dois"]
        with open(os.path.join(d, "a", "init", "authors.csv")) as f:
            assert sum(1 for _ in f) - 1 == gen.SEED_SIZES["authors"]


if __name__ == "__main__":
    kernels()
    one_operation()
    generator()
    print("selftest ok")
