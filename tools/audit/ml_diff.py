"""Compare two `graft.MlAudit` dumps table by table, order-free and
row-exact: the A/B check that a change to the ML training path left
the fitted models' outputs bit-identical.

Usage:
  python3 tools/audit/ml_diff.py <parentDump> <changeDump>

Each dump is what `graft.MlAudit <sfDir> <outDir>` writes. Every table
(cls_scored, reg_scored, importances, serve, cls_metrics, reg_metrics)
is read whole, its rows sorted on every column, and compared exactly:
same columns, same dtypes, same values (NaN equals NaN). Exit status 0
means every table is identical; 1 names the tables that differ.

One documented exception: `cls_metrics.auc` may differ by at most
1e-12. BinaryClassificationEvaluator sorts the scores with `sortByKey`,
whose RangePartitioner seeds its sample from the RDD id. A run that
creates a different number of RDDs before the evaluation moves the
partition bounds and so the order in which the ROC areas are summed;
the AUC then moves in its last bits while every scored row is the same.
Confirmed at sf0.01 (4 cpus): adding one throwaway
`sc.emptyRDD` before `evalClassifier` in MlAudit, with no other change,
moved the AUC from 0.8118484417496312 to 0.8118484417496317 with every
other table identical. The value is deterministic for a given source
tree (two parent runs at sf0.1 gave the same bits).

The allowance does NOT cover sf0.1. With more than 2 x 1000 scored
rows the evaluator down-samples the ROC curve to about 1000 points by
grouping consecutive scores within each range partition, so moving the
partition bounds changes which scores are merged, and the AUC moves in
its 7th digit. At sf0.1 (21,895 scored rows, 4 cpus) the same
throwaway RDD moved the parent's AUC by 1.08e-06. There the script
reports a cls_metrics DIFF even when every scored row is identical;
it says so, and still exits 1: whether such a move is this effect is
for the reader to confirm with the throwaway-RDD run.
"""
import sys

import pandas as pd

TABLES = ['cls_scored', 'reg_scored', 'importances', 'serve',
          'cls_metrics', 'reg_metrics']
AUC_TOL = 1e-12


def rows(dump, table):
    df = pd.read_parquet(f'{dump}/{table}')
    cols = sorted(df.columns)
    return df[cols].sort_values(cols, kind='mergesort').reset_index(drop=True)


def main(parent, change):
    differ = []
    for t in TABLES:
        a, b = rows(parent, t), rows(change, t)
        if t == 'cls_metrics' and list(a.columns) == list(b.columns):
            delta = abs(float(a.auc.iloc[0]) - float(b.auc.iloc[0])) if len(a) == len(b) == 1 else None
            ok = delta is not None and delta <= AUC_TOL and \
                a.drop(columns='auc').equals(b.drop(columns='auc'))
            note = f' (auc delta {delta:.3g}, allowed {AUC_TOL:g})' if delta is not None else ''
        else:
            ok, note = a.equals(b), ''
        print(f'{"same" if ok else "DIFF"} {t}: {len(a)} vs {len(b)} rows{note}')
        if not ok:
            differ.append(t)
    print('all tables identical' if not differ else f'differ: {", ".join(differ)}')
    if differ == ['cls_metrics']:
        print('only cls_metrics differs and every scored row is identical: if it is the auc alone, '
              'see the docstring on ROC down-sampling before reading it as a model change')
    return 1 if differ else 0


if __name__ == '__main__':
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
