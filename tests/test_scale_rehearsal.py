"""The rehearsal's asserted archive run (``--archive-at``) expects the
batch and partition count the planner gives, not a re-derived formula:
the shared planner adds a final inclusive predicate when the key span
is not a multiple of the batch, which the old ``(max-min)//batch + 1``
rule missed."""

from tools.scale_rehearsal import archive_at_scale


def test_archive_at_scale_expects_the_planners_partitions(
    sf_dir, release_heap
):
    row = archive_at_scale(sf_dir, timeout=600)
    # sf0.001 lineitem: one 40k batch holds every row, yet the key
    # range splits into two predicates
    assert row["num_partitions"] == row["expected_partitions"] == 2
