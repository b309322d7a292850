-- The employees tables with their primary keys, as the csv_load command
-- creates them. Used for the PG-native reference (schema `ref`) and for
-- the pg_migrate source databases; graft never runs this file.
create table departments (
  dept_no    char(4)     not null primary key,
  dept_name  varchar(40) not null unique
);
create table employees (
  emp_no     integer     not null primary key,
  birth_date date        not null,
  first_name varchar(14) not null,
  last_name  varchar(16) not null,
  gender     char(1)     not null,
  hire_date  date        not null
);
create table dept_manager (
  emp_no    integer not null,
  dept_no   char(4) not null,
  from_date date    not null,
  to_date   date    not null,
  primary key (emp_no, dept_no)
);
create table dept_emp (
  emp_no    integer not null,
  dept_no   char(4) not null,
  from_date date    not null,
  to_date   date    not null,
  primary key (emp_no, dept_no)
);
create table titles (
  emp_no    integer     not null,
  title     varchar(50) not null,
  from_date date        not null,
  to_date   date,
  primary key (emp_no, title, from_date)
);
create table salaries (
  emp_no    integer not null,
  salary    integer not null,
  from_date date    not null,
  to_date   date    not null,
  primary key (emp_no, from_date)
);
