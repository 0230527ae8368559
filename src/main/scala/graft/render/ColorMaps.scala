package graft.render

import java.awt.image.BufferedImage
import java.util.Base64

/** The colormap catalog behind the Color Bars API (reference K5:
  * xcube_server/im/cmaps.py:46-93 category table, 97-191 loading +
  * `_alpha` derivation; served by controllers/catalogue.py:115-142).
  *
  * The reference leans on matplotlib for the palette data; here each
  * map is a list of evenly-spaced RGB control stops (the published
  * control points of the well-known matplotlib / ColorBrewer families,
  * linearly interpolated to 256 entries — close approximations, not
  * bit-copies). Qualitative maps stay discrete (no interpolation),
  * mirroring ListedColormap. Every map gets an `<name>_alpha` variant
  * whose alpha ramps 0→1 over the first half of the range and stays
  * opaque after (cmaps.py:139-142).
  */
object ColorMaps {

  /** discrete = qualitative (ListedColormap): nearest stop, no blend.
    * Each palette is expanded once, at first use, and then shared. */
  final case class CMap(name: String, stops: Array[Int],
                        discrete: Boolean = false) {
    private[render] lazy val opaque: Array[Int] = expand(this, alphaRamp = false)
    private[render] lazy val alphaRamped: Array[Int] =
      expand(this, alphaRamp = true)
  }

  private def m(name: String, hex: String*): CMap =
    CMap(name, hex.map(h => Integer.parseInt(h, 16)).toArray)
  private def q(name: String, hex: String*): CMap =
    CMap(name, hex.map(h => Integer.parseInt(h, 16)).toArray, discrete = true)

  /** category table — names/descriptions follow cmaps.py:46-93 (Ocean
    * omitted: it needs the optional cmocean dependency, and the
    * reference likewise drops the category when cmocean is absent,
    * cmaps.py:121-122). */
  val categories: Seq[(String, String, Seq[CMap])] = Seq(
    ("Perceptually Uniform Sequential",
      "For many applications, a perceptually uniform colormap is the best" +
        " choice - one in which equal steps in data are perceived as equal" +
        " steps in the color space",
      Seq(
        m("viridis", "440154", "482878", "3e4989", "31688e", "26828e",
          "1f9e89", "35b779", "6ece58", "b5de2b", "fde725"),
        m("inferno", "000004", "1b0c42", "4b0c6b", "781c6d", "a52c60",
          "cf4446", "ed6925", "fb9a06", "f7d03c", "fcffa4"),
        m("plasma", "0d0887", "46039f", "7201a8", "9c179e", "bd3786",
          "d8576b", "ed7953", "fb9f3a", "fdca26", "f0f921"),
        m("magma", "000004", "1c1044", "4f127b", "812581", "b5367a",
          "e55064", "fb8761", "fec287", "fcfdbf"))),
    ("Sequential 1",
      "These colormaps are approximately monochromatic colormaps varying" +
        " smoothly between two color tones - usually from low saturation" +
        " (e.g. white) to high saturation (e.g. a bright blue). Sequential" +
        " colormaps are ideal for representing most scientific data since" +
        " they show a clear progression from low-to-high values.",
      Seq(
        m("Blues", "f7fbff", "deebf7", "c6dbef", "9ecae1", "6baed6",
          "4292c6", "2171b5", "08519c", "08306b"),
        m("Greens", "f7fcf5", "e5f5e0", "c7e9c0", "a1d99b", "74c476",
          "41ab5d", "238b45", "006d2c", "00441b"),
        m("Greys", "ffffff", "f0f0f0", "d9d9d9", "bdbdbd", "969696",
          "737373", "525252", "252525", "000000"),
        m("Oranges", "fff5eb", "fee6ce", "fdd0a2", "fdae6b", "fd8d3c",
          "f16913", "d94801", "a63603", "7f2704"),
        m("Purples", "fcfbfd", "efedf5", "dadaeb", "bcbddc", "9e9ac8",
          "807dba", "6a51a3", "54278f", "3f007d"),
        m("Reds", "fff5f0", "fee0d2", "fcbba1", "fc9272", "fb6a4a",
          "ef3b2c", "cb181d", "a50f15", "67000d"),
        m("YlGnBu", "ffffd9", "edf8b1", "c7e9b4", "7fcdbb", "41b6c4",
          "1d91c0", "225ea8", "253494", "081d58"),
        m("YlOrRd", "ffffcc", "ffeda0", "fed976", "feb24c", "fd8d3c",
          "fc4e2a", "e31a1c", "bd0026", "800026"))),
    ("Sequential 2",
      "Many of the values from the Sequential 2 plots are monotonically" +
        " increasing.",
      Seq(
        m("afmhot", "000000", "800000", "ff8000", "ffff80", "ffffff"),
        m("autumn", "ff0000", "ffff00"),
        m("bone", "000000", "38384e", "707b8c", "a8c6c6", "ffffff"),
        m("cool", "00ffff", "ff00ff"),
        m("copper", "000000", "4f321f", "9e643e", "ed965e", "ffc77f"),
        m("gray", "000000", "ffffff"),
        m("hot", "0b0000", "ff0000", "ffff00", "ffffff"),
        m("spring", "ff00ff", "ffff00"),
        m("summer", "008066", "ffff66"),
        m("winter", "0000ff", "00ff80"))),
    ("Diverging",
      "These colormaps have a median value (usually light in color) and" +
        " vary smoothly to two different color tones at high and low" +
        " values. Diverging colormaps are ideal when your data has a" +
        " median value that is significant (e.g.  0, such that positive" +
        " and negative values are represented by different colors of the" +
        " colormap).",
      Seq(
        m("bwr", "0000ff", "ffffff", "ff0000"),
        m("coolwarm", "3b4cc0", "6f91f1", "a9c5fc", "dddcdb", "f6b69b",
          "e6745b", "b40426"),
        m("RdBu", "67001f", "b2182b", "d6604d", "f4a582", "fddbc7",
          "f7f7f7", "d1e5f0", "92c5de", "4393c3", "2166ac", "053061"),
        m("RdYlBu", "a50026", "d73027", "f46d43", "fdae61", "fee090",
          "ffffbf", "e0f3f8", "abd9e9", "74add1", "4575b4", "313695"),
        m("Spectral", "9e0142", "d53e4f", "f46d43", "fdae61", "fee08b",
          "ffffbf", "e6f598", "abdda4", "66c2a5", "3288bd", "5e4fa2"),
        m("seismic", "00004d", "0000ff", "ffffff", "ff0000", "800000"))),
    ("Qualitative",
      "These colormaps vary rapidly in color. Qualitative colormaps are" +
        " useful for choosing a set of discrete colors.",
      Seq(
        q("Set1", "e41a1c", "377eb8", "4daf4a", "984ea3", "ff7f00",
          "ffff33", "a65628", "f781bf", "999999"),
        q("Set2", "66c2a5", "fc8d62", "8da0cb", "e78ac3", "a6d854",
          "ffd92f", "e5c494", "b3b3b3"),
        q("Paired", "a6cee3", "1f78b4", "b2df8a", "33a02c", "fb9a99",
          "e31a1c", "fdbf6f", "ff7f00", "cab2d6", "6a3d9a", "ffff99",
          "b15928"),
        q("Accent", "7fc97f", "beaed4", "fdc086", "ffff99", "386cb0",
          "f0027f", "bf5b17", "666666"))),
    ("Miscellaneous",
      "Colormaps that don't fit into the categories above.",
      Seq(
        m("jet", "00007f", "0000ff", "00ffff", "7fff7f", "ffff00",
          "ff0000", "7f0000"),
        m("rainbow", "8000ff", "2c83f6", "24d8da", "7cf3a7", "cfe258",
          "ffa600", "ff0000"),
        m("terrain", "333399", "0099ff", "00cc66", "ffff99", "996633",
          "ffffff"),
        m("ocean", "007f00", "00007f", "00ffff", "ffffff"),
        m("cubehelix", "000000", "1a1d3a", "15534c", "437731", "a07949",
          "c78fb2", "c7b9ed", "ffffff"))))

  /** flat name → map index (base names only; `_alpha` resolved in
    * [[palette]]) */
  private val byName: Map[String, CMap] =
    categories.flatMap(_._3).map(c => c.name -> c).toMap

  val names: Seq[String] = categories.flatMap(_._3).map(_.name)

  /** 256-entry ARGB palette for `name` or `name_alpha`; None when
    * unknown. Every call for a name returns the same array, shared by
    * all requests: read it, never write it. */
  def palette(name: String): Option[Array[Int]] = {
    val (base, alphaRamp) =
      if (name.endsWith("_alpha")) (name.dropRight(6), true) else (name, false)
    byName.get(base).map(c => if (alphaRamp) c.alphaRamped else c.opaque)
  }

  /** palette or viridis when the name is unknown (the reference falls
    * back to a default colormap rather than erroring a tile request);
    * shared and read-only like [[palette]] */
  def paletteOrDefault(name: String): Array[Int] =
    palette(name).getOrElse(byName("viridis").opaque)

  /** Interpolate stops to 256 ARGB entries. Alpha ramp (cmaps.py:139-142):
    * a = min(1, 2·t), i.e. transparent→opaque across the first half. */
  private def expand(c: CMap, alphaRamp: Boolean): Array[Int] =
    Array.tabulate(256) { i =>
      val t = i / 255.0
      val rgb =
        if (c.discrete) c.stops(math.min(c.stops.length - 1,
          (t * c.stops.length).toInt))
        else {
          val x = t * (c.stops.length - 1)
          val k = math.min(c.stops.length - 2, x.toInt)
          val f = x - k
          val (a, b) = (c.stops(k), c.stops(k + 1))
          def lerp(sh: Int) = {
            val av = (a >> sh) & 0xff; val bv = (b >> sh) & 0xff
            (av + f * (bv - av)).round.toInt & 0xff
          }
          (lerp(16) << 16) | (lerp(8) << 8) | lerp(0)
        }
      val alpha =
        if (alphaRamp) math.min(255, (2.0 * t * 255).round.toInt) else 255
      (alpha << 24) | rgb
    }

  /** 256×2 RGBA gradient PNG, base64 (the `<cbar-png-bytes>` payload of
    * cmaps.py:166-184). */
  def gradientPngBase64(pal: Array[Int]): String = {
    val img = new BufferedImage(256, 2, BufferedImage.TYPE_INT_ARGB)
    var x = 0
    while (x < 256) {
      val c = pal(x * pal.length / 256)
      img.setRGB(x, 0, c); img.setRGB(x, 1, c)
      x += 1
    }
    Base64.getEncoder.encodeToString(Render.png(img))
  }

  /** Catalog entries for one map. The reference registers the `_alpha`
    * variant for RENDERING but lists only the base name in the catalog
    * (cmaps.py:186 appends `cmap_name`, never `new_name`) — so one
    * entry per map here; `_alpha` stays resolvable via [[palette]]. */
  private def entries(c: CMap): Seq[(String, String)] = Seq(
    c.name -> gradientPngBase64(c.opaque))

  /** GET /colorbars — the reference's JSON shape: an array of
    * [category, description, [[name, pngBase64], ...]] records
    * (catalogue.py:115-118 json.dumps of the get_cmaps tuple). */
  lazy val json: String = {
    import graft.server.Json
    Json.arr(categories.map { case (cat, desc, maps) =>
      Json.arr(Seq(Json.str(cat), Json.str(desc),
        Json.arr(maps.flatMap(entries).map { case (n, png) =>
          Json.arr(Seq(Json.str(n), Json.str(png)))
        })))
    })
  }

  /** GET /colorbars.html — the reference's HTML gallery
    * (catalogue.py:120-142). */
  lazy val html: String = {
    val b = new StringBuilder
    b.append("<!DOCTYPE html>\n<html lang=\"en\">\n<head>")
      .append("<meta charset=\"UTF-8\">")
      .append("<title>graft server color maps</title>")
      .append("</head>\n<body style=\"padding: 0.2em\">\n")
    categories.foreach { case (cat, desc, maps) =>
      b.append(s"    <h2>$cat</h2>\n")
        .append(s"    <p><i>$desc</i></p>\n")
        .append("    <table style=\"border: 0\">\n")
      maps.flatMap(entries).foreach { case (n, png) =>
        b.append("        <tr><td><code>").append(n)
          .append("</code></td><td><img src=\"data:image/png;base64,")
          .append(png)
          .append("\" width=\"100%\" height=\"24\"/></td></tr>\n")
      }
      b.append("    </table>\n")
    }
    b.append("</body>\n</html>\n")
    b.toString
  }
}
