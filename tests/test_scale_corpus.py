"""The scale-rehearsal corpus transform must stay a per-replica letter
BIJECTION (intra-replica edit distances and shingle structure exactly
preserved) while never cloning text across replicas — the pure caesar
shift wrapped at r = 26, giving every document ~4 verbatim clones at
100x and quadratic near-dup density (a corpus artifact, not a real
crawl shape). No Spark needed: the transform is pure Python.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.scale_corpus import _AFFINE_UNITS, _caesar  # noqa: E402

ALPHA = "abcdefghijklmnopqrstuvwxyz"


class TestAffineCorpusTransform:
    def test_replica_zero_is_identity(self):
        assert _caesar("Quick-Brown fox99", 0) == "Quick-Brown fox99"

    def test_below_26_matches_plain_caesar(self):
        """Replicas < 26 must keep the historical pure-shift output —
        every corpus at scale <= 26 stays byte-identical to the ones
        rounds 7-9 measured and hash-proved."""
        for r in range(26):
            want = "".join(
                chr((ord(c) - 97 + r) % 26 + 97) for c in ALPHA
            )
            assert _caesar(ALPHA, r) == want

    def test_stopwords_never_transformed(self):
        for r in (1, 27, 311):
            assert _caesar("the", r) == "the"
            assert _caesar("The", r) == "The"

    def test_bijection_and_case_preserved(self):
        for r in (1, 25, 26, 53, 311):
            img = _caesar(ALPHA, r)
            assert sorted(img) == list(ALPHA)  # permutation
            assert _caesar(ALPHA.upper(), r) == img.upper()

    def test_no_two_replicas_share_a_transform_below_312(self):
        """The 100x wrap artifact: with a pure shift, replicas r and
        r+26 mapped text identically. The affine family gives 312
        distinct bijections (12 units x 26 shifts)."""
        assert len(_AFFINE_UNITS) * 26 == 312
        images = [_caesar(ALPHA, r) for r in range(312)]
        assert len(set(images)) == 312

    def test_intra_replica_hamming_distance_preserved(self):
        """A bijection preserves positional equality, hence edit
        structure: two words differing at exactly one position keep
        exactly one difference under every replica transform."""
        a, b = "spark", "snark"
        for r in (7, 30, 100, 299):
            ta, tb = _caesar(a, r), _caesar(b, r)
            diff = sum(x != y for x, y in zip(ta, tb))
            assert diff == 1


class TestCorpusDir:
    def test_sf_root_names_the_scale_bench_reads(self, tmp_path):
        """``--sf-root`` builds n replicas of sf0.1 as ``sf<n/10>``, the
        directory name ``bench.scale_of`` gates by; a complete corpus
        is not rebuilt."""
        from bench import scale_of
        from tests.oracle_compare import TABLES
        from tools.scale_corpus import corpus_dir, sf_name

        assert [sf_name(n) for n in (1, 3, 10, 100)] == [
            "sf0.1", "sf0.3", "sf1", "sf10"
        ]
        out = tmp_path / "sf1"
        out.mkdir()
        for table in TABLES:
            (out / f"{table}.parquet").touch()
        assert corpus_dir(10, str(tmp_path)) == str(out)
        assert scale_of(str(out)) == 1.0
