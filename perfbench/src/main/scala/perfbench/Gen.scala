package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Everything a workload reads is made here from
  * `--seed`, so the same seed gives byte-identical inputs.
  *
  * HR records follow the reference schema (FIXTURES.md §A): Korean text,
  * duplicate names, empty certification lists, and `education` as a struct
  * for employees but a plain string for postings. The curation corpus
  * follows the `documents` test table (FIXTURES.md §B): 30 template
  * words, 10..100 words per document, about 5 % near-duplicates that copy
  * an earlier text and append " dup".
  */
object Gen {

  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def double(): Double = r.nextDouble()
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
    def some[T](xs: IndexedSeq[T], lo: Int, hi: Int): Seq[T] = {
      val n = between(lo, hi)
      val seen = scala.collection.mutable.LinkedHashSet[T]()
      while (seen.size < n) seen += pick(xs)
      seen.toSeq
    }
    def fork(salt: Long): Rng = new Rng(r.nextLong() ^ salt)
  }

  val departments: IndexedSeq[String] = IndexedSeq(
    "인사팀", "IT 개발팀", "재무팀", "마케팅팀", "영업팀", "디자인팀", "법무팀",
    "연구개발팀", "품질관리팀", "고객지원팀", "데이터팀", "보안팀", "기획팀",
    "구매팀", "물류팀", "생산팀", "홍보팀", "전략팀", "교육팀", "해외사업팀")
  private val surnames = IndexedSeq("김", "이", "박", "최", "정", "강", "조",
    "윤", "장", "임", "한", "오", "서", "신", "권", "황", "안", "송")
  private val givenSyl = IndexedSeq("민", "서", "준", "지", "현", "우", "예",
    "도", "하", "윤", "수", "진", "영", "호", "은", "성", "혜", "재", "원", "태")
  private val roles = IndexedSeq("백엔드 개발자", "프론트엔드 개발자",
    "데이터 엔지니어", "데이터 분석가", "UI 디자이너", "UX 리서처", "회계사",
    "재무 분석가", "마케터", "영업 관리자", "법무 담당", "연구원", "품질 엔지니어",
    "고객 상담원", "보안 엔지니어", "기획자", "구매 담당", "물류 관리자",
    "생산 관리자", "홍보 담당", "전략 컨설턴트", "교육 담당", "해외영업 담당")
  private val levels = IndexedSeq("", "선임 ", "책임 ", "수석 ", "주니어 ",
    "시니어 ", "리드 ", "매니저 ")
  private val techs = IndexedSeq("Python", "Java", "Scala", "SQL", "Spark",
    "Kafka", "React", "Vue", "Figma", "Excel", "SAP", "AWS", "GCP", "Docker",
    "Kubernetes", "TensorFlow", "PyTorch", "Tableau", "Go", "Rust", "C++",
    "Node.js", "Spring", "Django", "Hadoop", "Airflow", "Linux", "Git")
  private val skillSuffix = IndexedSeq("", " 설계", " 운영", " 최적화",
    " 분석", " 자동화", " 개발", " 관리", " 교육", " 컨설팅", " 보안",
    " 테스트", " 배포", " 모니터링", " 마이그레이션", " 아키텍처", " 튜닝",
    " 리뷰", " 문서화", " 협업", " 기획", " 시각화", " 모델링", " 통합",
    " 전략", " 구축", " 검증", " 개선", " 유지보수", " 표준화", " 평가",
    " 가이드", " 트러블슈팅", " 성능분석")
  /** 28 × 35 = 980 distinct skills, close to the reference's 970. */
  val skills: IndexedSeq[String] =
    for (t <- techs; s <- skillSuffix) yield t + s
  private val projectNouns = IndexedSeq("추천 시스템", "결제 플랫폼",
    "데이터 파이프라인", "모바일 앱", "사내 포털", "고객 관리 시스템",
    "물류 최적화", "보안 점검", "마케팅 캠페인", "교육 과정", "품질 개선",
    "해외 진출", "재무 보고", "채용 프로세스", "검색 엔진", "챗봇")
  private val projectVerbs = IndexedSeq("구축", "개선", "고도화", "운영",
    "설계", "전환", "자동화", "분석")
  private val majors = IndexedSeq("컴퓨터공학", "재료공학", "경영학",
    "통계학", "산업공학", "전자공학", "디자인", "법학", "경제학", "수학")
  private val degrees = IndexedSeq("학사", "석사", "박사")
  private val schools = IndexedSeq("서울대학교", "연세대학교", "고려대학교",
    "카이스트", "포항공대", "성균관대학교", "한양대학교", "부산대학교",
    "경북대학교", "전남대학교")
  private val certs = IndexedSeq("정보처리기사", "SQLD", "ADsP", "PMP",
    "AWS SAA", "CPA", "TOEIC 900", "빅데이터분석기사", "CISSP", "OPIc IH")
  private val langs = IndexedSeq("한국어(원어민)", "영어(중급)",
    "영어(고급)", "일본어(초급)", "중국어(중급)", "독일어(초급)")
  private val summaryBits = IndexedSeq("꼼꼼하고 책임감이 강한", "협업을 중시하는",
    "문제 해결에 능한", "데이터 기반으로 일하는", "고객 중심의",
    "빠르게 학습하는", "리더십이 있는", "세부 사항에 강한")
  private val locations = IndexedSeq("서울", "부산", "판교", "대전", "대구",
    "광주", "인천", "수원", "제주", "원격")
  private val employmentTypes =
    IndexedSeq.fill(62)("정규직") ++ IndexedSeq.fill(15)("계약직") ++
      IndexedSeq.fill(5)("프리랜서") ++ IndexedSeq.fill(2)("인턴")
  private val experience = IndexedSeq("신입", "1년 이상", "3년 이상",
    "5년 이상", "7년 이상", "무관", "10년 이상")
  private val eduReq = IndexedSeq("학사 이상", "석사 이상", "무관",
    "관련 전공 학사 이상")
  private val duties = IndexedSeq("서비스 설계 및 개발", "데이터 분석 및 보고",
    "코드 리뷰", "운영 자동화", "신규 기능 기획", "성능 개선",
    "고객 요구사항 분석", "팀 협업 및 멘토링", "품질 검증", "문서화")

  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c => b += c
    }
    (b += '"').toString
  }
  private def arr(xs: Seq[String]): String = xs.map(q).mkString("[", ",", "]")

  /** A pool of about n/3.4 names, so names repeat as in the reference. */
  private def namePool(r: Rng, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(math.max(8, (n / 3.4).toInt))(
      r.pick(surnames) + r.pick(givenSyl) + r.pick(givenSyl))

  def employeeJson(r: Rng, id: String, names: IndexedSeq[String],
                   version: Int = 0): String = {
    val dept = r.pick(departments)
    val projects = Seq.fill(r.between(2, 5))(
      r.pick(projectNouns) + " " + r.pick(projectVerbs))
    val summary = s"${r.pick(summaryBits)} ${r.pick(roles)}로서 " +
      s"${r.pick(projectNouns)} 경험이 풍부하며 ${r.pick(skills)} 역량을 갖추고 있습니다" +
      (if (version > 0) s" (개정 $version)" else "")
    val edu = s"""{"degree":${q(r.pick(majors) + " " + r.pick(degrees))},""" +
      s""""school":${q(r.pick(schools))},"graduation_year":${r.between(2014, 2023)}}"""
    s"""{"id":${q(id)},"name":${q(r.pick(names))},""" +
      s""""position":${q(r.pick(levels) + r.pick(roles))},""" +
      s""""department":${q(dept)},""" +
      f""""join_date":"${r.between(2015, 2024)}%04d-${r.between(1, 12)}%02d-${r.between(1, 28)}%02d",""" +
      s""""skills":${arr(r.some(skills, 3, 12))},""" +
      s""""projects":${arr(projects)},"education":$edu,""" +
      s""""certifications":${arr(r.some(certs, 0, 4))},""" +
      s""""languages":${arr(r.some(langs, 1, 3))},""" +
      s""""profile_summary":${q(summary)}}"""
  }

  /** One posting: the JSON record and the text a recruiter would search
    * with (title, skills and description). */
  def jobJson(r: Rng, id: String): (String, String) = {
    val title = r.pick(levels) + r.pick(roles) + " 채용"
    val req = r.some(skills, 3, 8)
    val desc = s"${r.pick(projectNouns)} ${r.pick(projectVerbs)}을 함께할 " +
      s"${r.pick(summaryBits)} 인재를 찾습니다"
    val json = s"""{"id":${q(id)},"title":${q(title)},""" +
      s""""department":${q(r.pick(departments))},""" +
      s""""location":${q(r.pick(locations))},""" +
      s""""employment_type":${q(r.pick(employmentTypes))},""" +
      s""""required_skills":${arr(req)},""" +
      s""""preferred_skills":${arr(r.some(skills, 1, 5))},""" +
      s""""experience_years":${q(r.pick(experience))},""" +
      s""""education":${q(r.pick(eduReq))},""" +
      s""""responsibilities":${arr(r.some(duties, 4, 7))},""" +
      s""""description":${q(desc)}}"""
    (json, s"$title ${req.mkString(" ")} $desc")
  }

  def empId(i: Int): String = f"EMP$i%06d"
  def jobId(i: Int): String = f"JOB$i%05d"

  /** Write `emps` and `jobs` as `shards` integrated JSON files (one object
    * with both lists per file). A multiLine JSON file is parsed by a
    * single task, so the shard count sets the ingest parallelism. */
  private def writeShards(dir: Path, shards: Int, emps: IndexedSeq[String],
                          jobs: IndexedSeq[String]): Unit = {
    Files.createDirectories(dir)
    (0 until shards).foreach { s =>
      val e = emps.indices.filter(_ % shards == s).map(emps)
      val j = jobs.indices.filter(_ % shards == s).map(jobs)
      val body = e.mkString("{\"employees\":[", ",\n", "],") +
        j.mkString("\"job_descriptions\":[", ",\n", "]}")
      Files.write(dir.resolve(f"hr-$s%03d.json"), body.getBytes(UTF_8))
    }
  }

  final case class HrInputs(dir: Path, deltaDir: Path, nEmp: Int, nJob: Int,
                            nChanged: Int, nNew: Int)

  /** The HR corpus and its refresh delta: `deltaPct` % of employees
    * changed in place and the same share added under new ids. */
  def hr(seed: Long, root: Path, nEmp: Int, nJob: Int, shards: Int,
         deltaPct: Double = 1.0): HrInputs = {
    val r = new Rng(seed)
    val names = namePool(r.fork(1), nEmp)
    val er = r.fork(2)
    val emps = (1 to nEmp).map(i => employeeJson(er, empId(i), names))
    val jr = r.fork(3)
    val jobs = (1 to nJob).map(i => jobJson(jr, jobId(i))._1)
    writeShards(root.resolve("hr"), shards, emps, jobs)
    val dr = r.fork(4)
    val nDelta = math.max(1, (nEmp * deltaPct / 100).toInt)
    val changed = Seq.fill(nDelta)(dr.between(1, nEmp)).distinct
      .map(i => employeeJson(dr, empId(i), names, version = 1))
    val added = (nEmp + 1 to nEmp + nDelta)
      .map(i => employeeJson(dr, empId(i), names))
    writeShards(root.resolve("delta"), shards, (changed ++ added).toIndexedSeq,
      IndexedSeq.empty)
    HrInputs(root.resolve("hr"), root.resolve("delta"), nEmp, nJob,
      changed.length, added.length)
  }

  final case class Request(text: String, department: String, docType: String,
                           kind: String)

  /** Serving order of the request kinds: of every four requests, two go
    * to the recommend spine, one to IVF and one to refined PQ. */
  val kinds: IndexedSeq[String] = IndexedSeq("recommend", "ivf", "recommend", "pq")

  /** The recommend request stream: a fresh posting's text, a department
    * and a doc-type filter per request. */
  def requests(seed: Long, n: Int): IndexedSeq[Request] = {
    val r = new Rng(seed ^ 0x5eed5eedL)
    (0 until n).map { i =>
      val text = jobJson(r, jobId(900000 + i))._2
      Request(text, r.pick(departments),
        if (r.double() < 0.85) "employee" else "job", kinds(i % kinds.length))
    }
  }

  private val words = IndexedSeq("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langCodes =
    IndexedSeq.fill(8)("en") ++ IndexedSeq("de", "fr", "es", "zh").flatMap(Seq.fill(3)(_))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The curation corpus, as `<dir>/documents.parquet` in the schema of
    * the `documents` test table. */
  def documents(spark: SparkSession, seed: Long, dir: Path, n: Int): Unit = {
    val r = new Rng(seed ^ 0xd0c5L)
    val texts = new Array[String](n)
    val rows = (0 until n).map { i =>
      texts(i) =
        if (i > 0 && r.double() < 0.05) texts(r.int(i)) + " dup"
        else Seq.fill(r.between(10, 100))(r.pick(words)).mkString(" ")
      Row(i.toLong, texts(i), r.pick(langCodes), s"src${i % 20}",
        texts(i).length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        documentsSchema)
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
  }
}
