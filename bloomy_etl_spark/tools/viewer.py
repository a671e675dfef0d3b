"""Driver-side dataset viewer / statistics tool over the Parquet cube.

Reference: ``tools/visualize_dataset.py:26-414`` — dataset info printout,
global statistics, single-frame plots, per-pixel time series, temporal
average / standard deviation, frame export, GIF. The reference loads the
whole NetCDF into driver memory (xarray); here every statistic is a Spark
aggregate and only FRAME-sized or SERIES-sized results ever reach the
driver:

  * global stats (A7, incl. exact median)    — one distributed aggregate;
  * per-pixel temporal mean/std (A5/A6)      — hash-agg keyed (y, x),
    collected as one (H, W) frame;
  * single-timestamp frame                   — partition-pruned read of
    one date (the cube sink partitions by date), O(H·W) collect;
  * per-pixel time series                    — pushed (y, x) predicate,
    O(T) collect.

Plotting needs matplotlib, which is optional: every ``plot_*`` method
works through :meth:`_require_matplotlib` and raises a clear message when
it is absent; the numeric accessors are dependency-free and unit-tested.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bloomy_etl_spark.sinks.geotiff import _densify


class CubeViewer:
    """Viewer over a merged cube (parquet dir from ``sinks.write_cube`` or
    any DataFrame with (time, y, x, ndvi, evi) columns)."""

    def __init__(self, spark: SparkSession, cube: DataFrame | str):
        self.spark = spark
        self.cube = spark.read.parquet(cube) if isinstance(cube, str) else cube

    # -- dataset info (visualize_dataset.py:26-79) --------------------------

    def info(self) -> dict:
        """Timestamps, spatial dims, period, variables — one aggregate."""
        row = self.cube.agg(
            F.countDistinct("time").alias("n_timestamps"),
            (F.max("y") + 1).alias("height"),
            (F.max("x") + 1).alias("width"),
            F.min("time").alias("t_min"),
            F.max("time").alias("t_max"),
        ).first()
        return {
            "n_timestamps": row["n_timestamps"],
            "height": row["height"],
            "width": row["width"],
            "period": (row["t_min"], row["t_max"]),
            "variables": [c for c in ("ndvi", "evi") if c in self.cube.columns],
        }

    def global_stats(self) -> pd.DataFrame:
        """Min/max/mean/median/std/valid%% per variable (reference
        :43-58; SURVEY A7). Median is EXACT (``median``), std is
        population (np.nanstd ddof=0 → stddev_pop); NULL = the
        reference's NaN, skipped by every aggregate."""
        total = self.cube.count()
        out = []
        for var in ("ndvi", "evi"):
            if var not in self.cube.columns:
                continue
            r = self.cube.agg(
                F.min(var).alias("min"),
                F.max(var).alias("max"),
                F.avg(var).alias("mean"),
                F.median(var).alias("median"),
                F.stddev_pop(var).alias("std"),
                F.count(var).alias("n_valid"),
            ).first()
            out.append(
                {
                    "variable": var,
                    "min": r["min"],
                    "max": r["max"],
                    "mean": r["mean"],
                    "median": r["median"],
                    "std": r["std"],
                    "valid_pct": 100.0 * r["n_valid"] / total if total else 0.0,
                }
            )
        return pd.DataFrame(out)

    def print_summary(self) -> None:
        """The reference's console report (:31-58)."""
        info = self.info()
        print("=" * 60)
        print("DATASET INFORMATION")
        print("=" * 60)
        print(f"Timestamps: {info['n_timestamps']}")
        print(f"Spatial dimensions: {info['height']} x {info['width']} pixels")
        print(f"Period: {info['period'][0]} to {info['period'][1]}")
        print(f"Variables: {info['variables']}")
        print("=" * 60)
        print("GLOBAL STATISTICS")
        print("=" * 60)
        for _, row in self.global_stats().iterrows():
            print(f"\n{row['variable'].upper()}:")
            for k in ("min", "max", "mean", "median", "std"):
                print(f"  {k.capitalize():8s} {row[k]:.4f}")
            print(f"  Valid pixels: {row['valid_pct']:.1f}%")

    # -- frame / series accessors -------------------------------------------

    def _densify(self, pdf: pd.DataFrame, var: str) -> np.ndarray:
        info = self.info()
        return _densify(pdf, info["width"], info["height"], var)

    def frame(self, date: str, var: str = "ndvi") -> np.ndarray:
        """Dense (H, W) array of one date (:82-151). Partition-pruned when
        the cube was written date-partitioned; O(frame) driver memory."""
        pdf = (
            self.cube.filter(F.to_date("time") == F.lit(date).cast("date"))
            .select("y", "x", var)
            .toPandas()
        )
        return self._densify(pdf, var)

    def pixel_series(self, y: int, x: int) -> pd.DataFrame:
        """(time, ndvi, evi) for one pixel (:153-193); the (y, x) equality
        predicates push to the scan."""
        return (
            self.cube.filter((F.col("y") == y) & (F.col("x") == x))
            .select("time", "ndvi", "evi")
            .orderBy("time")
            .toPandas()
        )

    def temporal_average(self, var: str = "ndvi") -> np.ndarray:
        """Per-pixel mean over time (:271-305; SURVEY A5) as (H, W)."""
        pdf = (
            self.cube.groupBy("y", "x").agg(F.avg(var).alias(var)).toPandas()
        )
        return self._densify(pdf, var)

    def std_deviation(self, var: str = "ndvi") -> np.ndarray:
        """Per-pixel temporal std (:307-341; SURVEY A6), population ddof=0."""
        pdf = (
            self.cube.groupBy("y", "x").agg(F.stddev_pop(var).alias(var)).toPandas()
        )
        return self._densify(pdf, var)

    def export_frames(self, out_dir: str, downsample: int = 1) -> pd.DataFrame:
        """Every timestamp as a raster file (:343-355) via the distributed
        GeoTIFF sink — returns the manifest."""
        from bloomy_etl_spark.sinks.geotiff import export_geotiff

        return export_geotiff(self.cube, out_dir, downsample=downsample).toPandas()

    # -- plots (optional matplotlib) ----------------------------------------

    @staticmethod
    def _require_matplotlib():
        try:
            import matplotlib.pyplot as plt  # noqa: F401

            return plt
        except ImportError as e:  # pragma: no cover - matplotlib absent here
            raise ImportError(
                "matplotlib is required for plot_* methods; the numeric "
                "accessors (frame/pixel_series/temporal_average/...) work "
                "without it"
            ) from e

    def plot_frame(self, date: str, save: str | None = None):  # pragma: no cover
        plt = self._require_matplotlib()
        fig, axes = plt.subplots(1, 2, figsize=(14, 6))
        for ax, (var, vmax) in zip(axes, (("ndvi", 1.0), ("evi", 2.0))):
            im = ax.imshow(
                self.frame(date, var), cmap="RdYlGn", vmin=-0.2, vmax=vmax,
                interpolation="nearest",
            )
            ax.set_title(f"{var.upper()} - {date}")
            ax.axis("off")
            fig.colorbar(im, ax=ax, fraction=0.046, pad=0.04)
        if save:
            fig.savefig(save)
        return fig

    def plot_time_series(self, y: int, x: int, save: str | None = None):  # pragma: no cover
        plt = self._require_matplotlib()
        s = self.pixel_series(y, x)
        fig, (ax1, ax2) = plt.subplots(2, 1, figsize=(14, 8), sharex=True)
        ax1.plot(s["time"], s["ndvi"], "o-", color="green", label="NDVI")
        ax2.plot(s["time"], s["evi"], "o-", color="darkgreen", label="EVI")
        for ax in (ax1, ax2):
            ax.axhline(y=0, color="gray", linestyle="--", alpha=0.5)
            ax.grid(True, alpha=0.3)
            ax.legend()
        ax1.set_title(f"Time Series - Pixel ({y}, {x})")
        if save:
            fig.savefig(save)
        return fig

    def dates(self) -> list[str]:
        """Sorted distinct calendar dates — the O(T) navigation axis the
        GIF/interactive modes iterate (never a pixel collect)."""
        return [
            str(r["d"])
            for r in (
                self.cube.select(F.to_date("time").alias("d"))
                .distinct()
                .orderBy("d")
                .collect()
            )
        ]

    def create_gif(self, out_path: str, duration_ms: int = 500):
        """Animated GIF of the whole series (reference
        ``tools/visualize_dataset.py:357-414``): one 2-panel frame per
        date. Frames are fetched one date at a time through the
        partition-pruned :meth:`frame` accessor, so driver memory is
        O(frame) — never the whole cube.

        matplotlib + Pillow render the reference-style annotated panels
        when importable; otherwise the pure-Python GIF89a encoder
        (``tools/gif.py``) writes a real animated GIF of the RdYlGn-
        colormapped NDVI|EVI panels with no optional dependency at all.
        """
        try:
            self._require_matplotlib()
            from PIL import Image  # noqa: F401
        except ImportError:
            return self._create_gif_pure(out_path, duration_ms)
        return self._create_gif_pillow(out_path, duration_ms)

    def _create_gif_pure(self, out_path: str, duration_ms: int) -> str:
        import numpy as np

        from bloomy_etl_spark.tools.gif import colormap_rdylgn, encode_gif

        frames = []
        for date in self.dates():
            ndvi = colormap_rdylgn(self.frame(date, "ndvi"), -0.2, 1.0)
            evi = colormap_rdylgn(self.frame(date, "evi"), -0.2, 2.0)
            sep = np.full((ndvi.shape[0], 1), 255, dtype=np.uint8)
            frames.append(np.hstack([ndvi, sep, evi]))
        with open(out_path, "wb") as f:
            f.write(encode_gif(frames, duration_ms=duration_ms))
        return out_path

    def _create_gif_pillow(self, out_path: str, duration_ms: int):  # pragma: no cover
        plt = self._require_matplotlib()
        from PIL import Image
        import io

        frames = []
        for date in self.dates():
            fig, axes = plt.subplots(1, 2, figsize=(14, 6))
            for ax, (var, vmax) in zip(axes, (("ndvi", 1.0), ("evi", 2.0))):
                ax.imshow(
                    self.frame(date, var), cmap="RdYlGn", vmin=-0.2, vmax=vmax,
                )
                ax.set_title(f"{var.upper()} - {date}")
                ax.axis("off")
            fig.tight_layout()
            buf = io.BytesIO()
            fig.savefig(buf, format="png", dpi=100)
            buf.seek(0)
            frames.append(Image.open(buf).copy())
            buf.close()
            plt.close(fig)
        frames[0].save(
            out_path,
            save_all=True,
            append_images=frames[1:],
            duration=duration_ms,
            loop=0,
        )
        return out_path

    def plot_interactive(self):  # pragma: no cover
        """Slider-driven timestamp navigator (reference
        ``tools/visualize_dataset.py:195-269``). Each slider move fetches
        exactly one date's frame via the partition-pruned accessor — the
        reference holds the full cube in memory; here navigation cost is
        per-frame and the cube can be arbitrarily large."""
        plt = self._require_matplotlib()
        from matplotlib.widgets import Slider

        dates = self.dates()
        fig = plt.figure(figsize=(16, 7))
        ax1 = plt.subplot(1, 2, 1)
        ax2 = plt.subplot(1, 2, 2)
        plt.subplots_adjust(bottom=0.15)
        im1 = ax1.imshow(
            self.frame(dates[0], "ndvi"), cmap="RdYlGn", vmin=-0.2, vmax=1.0,
            interpolation="nearest",
        )
        ax1.set_title(f"NDVI - {dates[0]}")
        ax1.axis("off")
        fig.colorbar(im1, ax=ax1, fraction=0.046, pad=0.04)
        im2 = ax2.imshow(
            self.frame(dates[0], "evi"), cmap="RdYlGn", vmin=-0.2, vmax=2.0,
            interpolation="nearest",
        )
        ax2.set_title(f"EVI - {dates[0]}")
        ax2.axis("off")
        fig.colorbar(im2, ax=ax2, fraction=0.046, pad=0.04)
        ax_slider = plt.axes([0.15, 0.05, 0.7, 0.03])
        slider = Slider(ax_slider, "Timestamp", 0, len(dates) - 1, valinit=0, valstep=1)

        def update(val):
            date = dates[int(slider.val)]
            im1.set_data(self.frame(date, "ndvi"))
            im2.set_data(self.frame(date, "evi"))
            ax1.set_title(f"NDVI - {date}")
            ax2.set_title(f"EVI - {date}")
            fig.canvas.draw_idle()

        slider.on_changed(update)
        plt.show()
        return fig
