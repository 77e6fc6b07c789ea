"""Seeded generator for the car pipeline's three input files.

Writes tab-separated files in the positional layout of FIXTURES.md §1-3:

- ``car_train.txt``  附件1, 36 fields (35 features + price), read by ``second``
- ``car_test.txt``   附件2, 35 fields, read by ``preprocess`` and ``first``
- ``store_txn.txt``  附件4, ragged: 5 fields for an unsold car, 6 for a sold one

Discrete ids are drawn from Zipf-like distributions, so vocabulary and
triplet sizes look like the competition's; nullable columns hold empty
fields; every anonymousFeature11/12/13 format appears; transaction carids
key into 附件1 (plus a few that match nothing). Only the standard library
is used, so the same seed gives byte-identical files on any machine.

    python3 perfbench/gen_car.py OUT_DIR --seed 7 [--train 30000 --test 5000 --txn 10000]
"""
import argparse
import bisect
import datetime
import os
import random

# (column, distinct ids, Zipf exponent) for the discrete columns
DISCRETE = {
    "brand": (120, 1.1), "serial": (1500, 1.05), "model": (5000, 1.0),
    "color": (15, 1.3), "cityId": (300, 1.1), "carCode": (8, 1.2),
    "country": (8, 1.4), "maketype": (4, 1.2), "modelyear": (20, 0.8),
    "oiltype": (5, 1.5),
    "anon1": (10, 1.2), "anon2": (5, 1.2), "anon3": (6, 1.2), "anon4": (12, 1.2),
    "anon5": (8, 1.2), "anon6": (7, 1.2), "anon8": (30, 1.1), "anon9": (4, 1.2),
    "anon10": (9, 1.2), "anon14": (3, 1.2),
}
# nullable per FIXTURES.md §1 (Repair fills them); empty field = null
NULL_RATE = 0.05
ANON11 = ["1+2", "1+2,4+2", "3+2", "1+2,3+2,4+2", "4+2"]
EPOCH = datetime.date(2000, 1, 1)


class Zipf:
    """Samples ids 0..n-1 with P(rank k) ∝ 1/k^s; the rank→id map is a seeded shuffle."""

    def __init__(self, rng, n, s):
        acc, self.cdf = 0.0, []
        for k in range(1, n + 1):
            acc += 1.0 / k ** s
            self.cdf.append(acc)
        self.ids = list(range(1, n + 1))
        rng.shuffle(self.ids)

    def draw(self, rng):
        return self.ids[min(bisect.bisect_left(self.cdf, rng.random() * self.cdf[-1]),
                            len(self.ids) - 1)]


def day(rng, lo, hi):
    """A yyyy-MM-dd date uniformly between two years (inclusive lo, exclusive hi)."""
    a = (datetime.date(lo, 1, 1) - EPOCH).days
    b = (datetime.date(hi, 1, 1) - EPOCH).days
    return EPOCH + datetime.timedelta(days=rng.randrange(a, b))


def nullable(rng, value):
    return "" if rng.random() < NULL_RATE else value


def car_line(rng, z, carid, with_price):
    d = {c: z[c].draw(rng) for c in DISCRETE}
    register = day(rng, 2008, 2020)
    newprice = round(5 + 60 * rng.random() ** 2, 2)
    f = [
        str(carid), day(rng, 2020, 2022).isoformat(),
        str(d["brand"]), str(d["serial"]), str(d["model"]),
        f"{rng.uniform(0.1, 30):.2f}", str(d["color"]), str(d["cityId"]),
        nullable(rng, str(d["carCode"])),
        f"{rng.choice([0, 0, 0, 1, 1, 2, 3]):.1f}", f"{rng.choice([5, 5, 5, 7, 4]):.1f}",
        register.isoformat(), (register + datetime.timedelta(days=rng.randrange(0, 90))).isoformat(),
        nullable(rng, str(d["country"])), nullable(rng, str(d["maketype"])),
        nullable(rng, str(2000 + d["modelyear"])),
        f"{rng.choice([1.0, 1.4, 1.5, 1.6, 2.0, 2.5, 3.0]):.1f}",
        nullable(rng, f"{rng.choice([0, 1]):.1f}"), str(d["oiltype"]), f"{newprice:.2f}",
        nullable(rng, str(d["anon1"])), str(d["anon2"]), str(d["anon3"]),
        nullable(rng, str(d["anon4"])), str(d["anon5"]), str(d["anon6"]),
        nullable(rng, day(rng, 2005, 2020).isoformat()),
        nullable(rng, str(d["anon8"])), nullable(rng, str(d["anon9"])),
        nullable(rng, str(d["anon10"])),
        nullable(rng, rng.choice(ANON11)),
        nullable(rng, f"{rng.randrange(3800, 5200)}*{rng.randrange(1650, 2000)}*{rng.randrange(1400, 1900)}"),
        nullable(rng, f"{rng.randrange(2005, 2021)}{rng.randrange(1, 13):02d}"),
        str(d["anon14"]),
        nullable(rng, day(rng, 2005, 2020).isoformat()),
    ]
    if with_price:
        f.append(f"{max(0.5, min(50.0, newprice * rng.uniform(0.2, 0.8))):.2f}")
    return "\t".join(f)


def txn_line(rng, carid):
    push = day(rng, 2020, 2021)
    push_price = round(rng.uniform(1.0, 50.0), 2)
    adjust, price, when = [], push_price, push
    for _ in range(rng.choice([0, 0, 1, 1, 2, 3])):
        when += datetime.timedelta(days=rng.randrange(1, 30))
        price = round(price * rng.uniform(0.85, 0.99), 2)
        adjust.append(f'"{when.isoformat()}": "{price}"')
    pull = when + datetime.timedelta(days=rng.randrange(1, 60))
    f = [str(carid), push.isoformat(), f"{push_price}", "{" + ", ".join(adjust) + "}", pull.isoformat()]
    if rng.random() < 0.6:  # sold: 6 fields, withdrawDate = pullDate
        f.append(pull.isoformat())
    return "\t".join(f)


def generate(out_dir, seed, n_train=30000, n_test=5000, n_txn=10000):
    """Write the three files into out_dir; returns their paths by name."""
    rng = random.Random(seed)
    z = {c: Zipf(rng, n, s) for c, (n, s) in DISCRETE.items()}
    os.makedirs(out_dir, exist_ok=True)
    train_ids = rng.sample(range(100000, 1000000), n_train)
    test_ids = rng.sample(range(1000000, 2000000), n_test)
    # ~95 % of transactions key into 附件1, the rest match no car
    keyed = rng.sample(train_ids, min(n_train, n_txn - n_txn // 20))
    txn_ids = keyed + [3000000 + i for i in range(n_txn - len(keyed))]
    rng.shuffle(txn_ids)
    files = {
        "car_train": [car_line(rng, z, i, True) for i in train_ids],
        "car_test": [car_line(rng, z, i, False) for i in test_ids],
        "store_txn": [txn_line(rng, i) for i in txn_ids],
    }
    paths = {}
    for name, lines in files.items():
        paths[name] = os.path.join(out_dir, name + ".txt")
        with open(paths[name], "w", encoding="utf-8", newline="\n") as fh:
            fh.write("\n".join(lines) + "\n")
    return paths


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("out_dir")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--train", type=int, default=30000)
    p.add_argument("--test", type=int, default=5000)
    p.add_argument("--txn", type=int, default=10000)
    a = p.parse_args()
    for name, path in generate(a.out_dir, a.seed, a.train, a.test, a.txn).items():
        print(name, path)


if __name__ == "__main__":
    main()
